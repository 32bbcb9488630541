"""Trigram language identification (whatlanggo-class).

The reference's language sanity gate delegates to whatlanggo
(/root/reference/utils-extractor.go:96-109, dep go.mod:8), a trigram
rank-distance classifier behind a script pre-filter. This module
re-implements that public algorithm shape deterministically:

1. Script detection: count characters per Unicode script; the dominant
   script either decides the language outright (Han→zh, Kana→ja,
   Hangul→ko, Arabic→ar, Hebrew→he, Greek→el, Thai→th, Devanagari→hi)
   or selects the trigram profile family (Latin, Cyrillic).
2. Trigram rank distance: the text's top-N character trigrams (words
   lowercased and padded with spaces) are compared against each
   language's ranked trigram profile; distance = Σ |rank_text −
   rank_profile| with a fixed penalty for unseen trigrams; the minimum
   distance wins.

The profiles are synthesized at import time from built-in
frequent-function-word lists (public linguistic knowledge, Zipf-weighted
by list rank) — fully deterministic, no external tables. This is a
documented approximation of whatlanggo's corpus-derived tables: exact
per-text parity with the Go library is not claimed, but the decision
boundary behaviour (best-guess classification for any non-empty text,
script-based shortcuts) matches, which is what the extraction gate
consumes.
"""

from __future__ import annotations

import re
from collections import Counter

# The 12 core Latin/Cyrillic seed lists (frequent function words).
_STOPWORDS = {
    "en": "the and of to in is that it for was with as his on are this be at by have from or had not but what all were when there can will would she her him they my one do you said which their".split(),
    "de": "der die und das ist nicht von mit den des dem ein eine einen im für auf als auch sich werden wurde bei aus nach wie zum haben wird sind oder einer einem über aber wenn noch nur schon mehr kann muss sehr durch gegen ohne unter zwischen ihre seinem ihren dieser diese dieses man wir ich es dass sie er zu".split(),
    "fr": "le la les des une est dans pour que qui sur avec pas plus par mais comme tout nous vous ont cette aux être sont et du de il elle au ce se ne son sa ses leur bien sans peut fait deux après avant aussi même où donc entre".split(),
    "es": "el la los las una es en que de por para con se su al lo como más pero sus fue este son entre cuando y un del ya o ha sin sobre también hasta hay donde quien desde nos durante todos uno les ni contra ese eso ante ellos e esto mí antes algunos qué unos yo otro otras otra él tanto esa estos mucho quienes nada muchos cual poco ella estar estas algunas algo nosotros".split(),
    "it": "il la che di e per una sono con non del alla nel più anche come dei delle questo essere dalla gli lo un in da si al ma le se nella della i o ha mi ci è sua suo".split(),
    "pt": "o a os as um uma é de em que para com não por mais como mas foi ele isso ou sua seu são do da no na se ao dos às pelo pela até isso ela entre depois sem mesmo aos seus quem nas me esse eles você essa num nem suas meu às minha numa pelos elas qual nós lhe deles essas esses pelas este dele".split(),
    "nl": "de het een en van in is dat op te zijn voor met als aan er maar om ook bij naar dan nog wordt wel geen al naar uit door over ze zich hij".split(),
    "ru": "и в не на что с он как это по но они из его за от так же для мы бы была было у а то все она к её их кто этот".split(),
    "id": "yang dan di ini itu dengan untuk dari dalam tidak pada adalah akan ke juga saya kita mereka bisa ada atau oleh sudah telah harus bahwa karena jika seperti saat tersebut".split(),
    "tr": "bir ve bu da ne için ile olarak daha çok ama gibi sonra kadar var yok ben sen biz onlar de mi en o ki".split(),
    "pl": "i w nie na to z że się jest do jak po przez tak ale za od czy tym jego która które który być już był może".split(),
    "sv": "och det att i en som på är av för med den till inte har de om ett han var men vi så kan man när år".split(),
}

# Additional Latin-script seed lists (frequent function words).
_EXTRA_LATIN = {
    "da": ("og i det at en den til er som på de med han af for ikke der var "
           "sig men et har om vi min havde hun nu over da fra du ud sin dem "
           "os op man hans hvor eller hvad skal selv her alle vil blev kunne "
           "ind når være noget ville efter skulle denne også hvis mange "
           "bliver hendes været sådan").split(),
    "no": ("og i jeg det at en et den til er som på de med han av ikke der "
           "så var meg seg men har om vi min hadde hun nå over da ved fra du "
           "ut sin dem oss opp man kan hans hvor eller hva skal selv her "
           "alle vil ble blitt kunne inn når være kom noen noe ville dere "
           "deres etter ned skulle denne deg sine sitt mot å dette disse "
           "uten ingen din blir samme bare enn fordi før mange slik vært").split(),
    "fi": ("ja on ei se että en oli hän mutta ovat sen ole kun niin minä nyt "
           "jos vain mitä tämä kanssa ollut hänen he sitä kuin missä jo "
           "pitää voi mikä siitä tai olla myös mukaan hänet jotka koska "
           "kaikki näin paljon").split(),
    "cs": ("a se na je že to v z do i by ale jako po co tak s k o jsem jsou "
           "byl pro za od ještě už jen podle který která které být bylo "
           "když nebo také své může proti mezi tím však až byla").split(),
    "ro": ("și în a la de ce este pe cu nu o mai pentru dar din sau după "
           "fără care ar fi fost sunt acest această între până către atunci "
           "când nostru foarte unde toate acum ceva dacă despre").split(),
    "hu": ("a az és hogy nem is egy ez van volt de ha meg csak már el mint "
           "még vagy ki mi be úgy azt ami aki mert lesz lehet minden nagy "
           "ők őket annak ezek arra ebben").split(),
}

# Cyrillic-script seed lists.
_CYRILLIC = {
    "ru": ("и в не на что с он как это по но они из его за от так же для мы "
           "бы была было у а то все она к её их кто этот быть когда уже "
           "только или если нет чем при даже после над под про между").split(),
    "uk": ("і в на не що з як це за але його від так для ми була було у а "
           "то всі вона до її їх хто цей та є бути коли вже тільки або якщо "
           "немає ніж при навіть після над під про між також через який").split(),
    "bg": ("и в на не че с той как това по но те от него за така също ние "
           "би била било а то тя към кой този да е са се ще им си му ги "
           "при след като още само или защото къде може").split(),
}

_LATIN_SEEDS = dict(_STOPWORDS)
_LATIN_SEEDS.pop("ru", None)  # Cyrillic family handled separately
_LATIN_SEEDS.update(_EXTRA_LATIN)

# Enrich the shorter inherited lists where sibling languages collide
# (Scandinavian family, Turkish vs Romance vowel patterns).
_LATIN_SEEDS["sv"] = _LATIN_SEEDS["sv"] + (
    "jag hade sig nu då ut upp ska själv vill blev kunde vara kom några "
    "något ville ni deras efter skulle denna er också utan hur ingen din "
    "blir samma bara än eftersom innan många sådan varit mellan vår varje "
    "vem genom under hela"
).split()
_LATIN_SEEDS["tr"] = _LATIN_SEEDS["tr"] + (
    "ya hem hiç her şey şu bunu bunun onun benim senin bizim onların değil "
    "olan olduğu ise diye göre başka nasıl neden hangi kim nerede zaman yıl "
    "gün iki üç çünkü eğer fakat ancak yani bile artık şimdi bugün dün bütün"
).split()
_CYRILLIC["ru"] = _CYRILLIC["ru"] + (
    "я ты вы оно кто об во со эта эти тот та те вот есть ещё ну них ему ей "
    "им мне меня нам вас тебе себя свой своя свои весь вся всё очень когда "
    "где куда почему потому день"
).split()

TRIGRAM_PENALTY = 300
_TOP_N = 300

_RX_WORDS = re.compile(r"[^\W\d_]+")


def _trigram_counts(words, weights=None) -> Counter:
    if weights is None:
        tris = [
            p[j:j + 3]
            for w in words
            for p in (" " + w + " ",)
            for j in range(len(p) - 2)
        ]
        return Counter(tris)  # C-level counting
    counts: Counter = Counter()
    for w, weight in zip(words, weights):
        padded = " " + w + " "
        for j in range(len(padded) - 2):
            counts[padded[j:j + 3]] += weight
    return counts


def _rank(counts: Counter, top_n: int = _TOP_N) -> dict[str, int]:
    # deterministic: frequency desc, trigram asc on ties
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]
    return {tri: pos for pos, (tri, _) in enumerate(ordered)}


def _build_profiles(seeds: dict) -> dict[str, dict[str, int]]:
    profiles = {}
    for lang, words in seeds.items():
        weights = [1.0 / (i + 1) for i in range(len(words))]  # Zipf-ish
        profiles[lang] = _rank(_trigram_counts([w.lower() for w in words], weights))
    return profiles


_LATIN_PROFILES = _build_profiles(_LATIN_SEEDS)
_CYRILLIC_PROFILES = _build_profiles(_CYRILLIC)


def _combine(profiles: dict) -> dict:
    """Inverted index trigram → [(lang, pos)] so the distance loop
    touches only the languages that actually carry each text trigram
    (every language starts at the full-penalty baseline and gets a
    discount per shared trigram) — ~10× fewer dict probes than one
    pass per language."""
    combined: dict[str, list] = {}
    for lang, prof in profiles.items():
        for tri, pos in prof.items():
            combined.setdefault(tri, []).append((lang, pos))
    return combined


_LATIN_COMBINED = _combine(_LATIN_PROFILES)
_CYRILLIC_COMBINED = _combine(_CYRILLIC_PROFILES)
_COMBINED_FOR = {id(_LATIN_PROFILES): _LATIN_COMBINED,
                 id(_CYRILLIC_PROFILES): _CYRILLIC_COMBINED}


_WORD_TRIS: dict[str, tuple] = {}


def _word_tris(w: str) -> tuple:
    """Padded trigrams of one word, memoized — web text reuses words
    heavily (stopwords dominate), so the slicing runs once per distinct
    word per process. Capped so adversarial vocabularies cannot grow
    the map unboundedly."""
    t = _WORD_TRIS.get(w)
    if t is None:
        p = " " + w + " "
        t = tuple(p[j:j + 3] for j in range(len(p) - 2))
        if len(_WORD_TRIS) < 100000:
            _WORD_TRIS[w] = t
    return t


def _classify_trigrams(text: str, profiles: dict, exclude: frozenset = frozenset()) -> str:
    # ~80 words of running text are ample for trigram rank distance;
    # capping bounds per-document cost on long pages.
    words = _RX_WORDS.findall(text[:800].lower())
    if not words:
        return ""
    # distinct words with integer multiplicities, flattened through the
    # per-word trigram cache and counted C-side — identical counts to
    # the naive per-occurrence pass (measured 1.4x on the rank build)
    wc = Counter(words[:80])
    flat: list = []
    for w, c in wc.items():
        flat += _word_tris(w) * c if c > 1 else _word_tris(w)
    ranks = _rank(Counter(flat), top_n=100)
    if not ranks:
        return ""
    combined = _COMBINED_FOR.get(id(profiles))
    if combined is None:
        combined = _combine(profiles)
    base = len(ranks) * TRIGRAM_PENALTY
    totals = {lang: base for lang in profiles if lang not in exclude}
    for tri, pos in ranks.items():
        hits = combined.get(tri)
        if hits:
            for lang, ppos in hits:
                if lang in totals:
                    totals[lang] += abs(pos - ppos) - TRIGRAM_PENALTY
    if not totals:
        return ""
    # deterministic: min distance, language code on ties
    return min(totals.items(), key=lambda kv: (kv[1], kv[0]))[0]


# Unicode script ranges (BMP subsets sufficient for web text).
_SCRIPT_RANGES = (
    ("latin", ((0x41, 0x5A), (0x61, 0x7A), (0xC0, 0x24F), (0x1E00, 0x1EFF))),
    ("cyrillic", ((0x400, 0x4FF), (0x500, 0x52F),)),
    ("han", ((0x4E00, 0x9FFF), (0x3400, 0x4DBF),)),
    ("kana", ((0x3040, 0x309F), (0x30A0, 0x30FF),)),
    ("hangul", ((0xAC00, 0xD7AF), (0x1100, 0x11FF), (0x3130, 0x318F))),
    ("arabic", ((0x600, 0x6FF), (0x750, 0x77F),)),
    ("hebrew", ((0x590, 0x5FF),)),
    ("greek", ((0x370, 0x3FF), (0x1F00, 0x1FFF),)),
    ("thai", ((0xE00, 0xE7F),)),
    ("devanagari", ((0x900, 0x97F),)),
)

_SCRIPT_LANG = {
    "han": "zh", "kana": "ja", "hangul": "ko", "arabic": "ar",
    "hebrew": "he", "greek": "el", "thai": "th", "devanagari": "hi",
}


_RX_ASCII = re.compile(r"[\x00-\x7f]+")
_RX_ASCII_LETTER = re.compile(r"[A-Za-z]")


def _dominant_script(text: str) -> str:
    sample = text[:2000]
    # ASCII fast path (C-level check): pure-ASCII text is Latin script.
    if sample.isascii():
        return "latin" if _RX_ASCII_LETTER.search(sample) else ""
    # ASCII letters are Latin by definition (counted C-side); the
    # Python range loop only runs over the non-ASCII residue, which is
    # tiny for European Latin text and bounded for CJK.
    ascii_latin = len(_RX_ASCII_LETTER.findall(sample))
    counts: Counter = Counter()
    if ascii_latin:
        counts["latin"] = ascii_latin
    for ch in _RX_ASCII.sub("", sample)[:800]:
        cp = ord(ch)
        for script, ranges in _SCRIPT_RANGES:
            for lo, hi in ranges:
                if lo <= cp <= hi:
                    counts[script] += 1
                    break
            else:
                continue
            break
    if not counts:
        return ""
    return counts.most_common(1)[0][0]


def detect(text: str) -> str:
    """ISO 639-1 code of the dominant language; "" for empty /
    letterless input (whatlanggo.DetectLang shape: a best guess is
    always produced for real text)."""
    if not text:
        return ""
    script = _dominant_script(text)
    if script == "":
        return ""
    if script in _SCRIPT_LANG:
        # Han with any kana present is Japanese (whatlanggo does the
        # same disambiguation inside its Mandarin/Japanese split).
        if script == "han" and any(
            0x3040 <= ord(c) <= 0x30FF for c in text[:4000]
        ):
            return "ja"
        return _SCRIPT_LANG[script]
    sample = text[:4000]
    if script == "cyrillic":
        # Alphabet evidence before trigram distance (the same trick
        # whatlanggo's profiles encode statistically): ї/є/ґ exist only
        # in Ukrainian; ы/э only in Russian (Bulgarian has neither).
        if any(c in sample for c in "їєґ") or sample.count("і") >= 2:
            return "uk"
        if any(c in sample for c in "ыэ"):
            return "ru"
        return _classify_trigrams(text, _CYRILLIC_PROFILES)
    # Latin candidate filtering by alphabet: Swedish never writes æ/ø;
    # Danish/Norwegian never write ä/ö (loanwords aside, frequency
    # decides over the sample).
    exclude: frozenset = frozenset()
    has_aeo = sum(sample.count(c) for c in "æø")
    has_umlaut_ao = sum(sample.count(c) for c in "äö")
    if has_aeo > has_umlaut_ao and has_aeo > 0:
        exclude = frozenset(("sv",))
    elif has_umlaut_ao > has_aeo and has_umlaut_ao > 0:
        exclude = frozenset(("da", "no"))
    return _classify_trigrams(text, _LATIN_PROFILES, exclude)
