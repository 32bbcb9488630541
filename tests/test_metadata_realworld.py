"""Metadata parity on real-world pages from the reference mock corpus.

Transcribed from /root/reference/metadata-realworld_test.go:32-120
(first batch of pages; field-by-field expectations).
"""

import os

import pytest

from go_trafilatura_spark import etree
from go_trafilatura_spark.metadata import bind_metadata, extract_metadata
from go_trafilatura_spark.options import Options

MOCK_DIR = "/root/reference/test-files/mock"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(MOCK_DIR), reason="reference mock corpus not available"
)


def meta_for(fname: str, url: str):
    with open(os.path.join(MOCK_DIR, fname), "rb") as f:
        doc = etree.parse_html(f.read())
    opts = Options(original_url=url)
    return bind_metadata(*extract_metadata(doc, opts), url, opts)


def test_blog_python_org():
    url = "http://blog.python.org/2016/12/python-360-is-now-available.html"
    m = meta_for("blog.python.org.html", url)
    assert m.title == "Python 3.6.0 is now available!"
    assert m.description == (
        "Python 3.6.0 is now available! Python 3.6.0 is the newest major "
        "release of the Python language, and it contains many new features "
        "and opti..."
    )
    assert m.author == "Ned Deily"
    assert m.url == url
    assert m.sitename == "blog.python.org"


def test_wordpress_diverse():
    url = "https://en.blog.wordpress.com/2019/06/19/want-to-see-a-more-diverse-wordpress-contributor-community-so-do-we/"
    m = meta_for("blog.wordpress.com.diverse.html", url)
    assert m.title == "Want to See a More Diverse WordPress Contributor Community? So Do We."
    assert m.description == (
        "More diverse speakers at WordCamps means a more diverse community "
        "contributing to WordPress — and that results in better software for everyone."
    )
    assert m.sitename == "The WordPress.com Blog"
    assert m.url == url


def test_creativecommons_about():
    url = "https://creativecommons.org/about/"
    m = meta_for("creativecommons.org.html", url)
    assert m.title == "What we do - Creative Commons"
    assert m.sitename == "Creative Commons"
    assert m.url == url


def test_creativecommons_at():
    url = "https://www.creativecommons.at/faircoin-hackathon"
    m = meta_for("creativecommons.at.faircoin.html", url)
    assert m.title == "FairCoin hackathon beim Sommercamp"


def test_netzpolitik():
    url = "https://netzpolitik.org/2016/die-cider-connection-abmahnungen-gegen-nutzer-von-creative-commons-bildern/"
    m = meta_for("netzpolitik.org.abmahnungen.html", url)
    assert m.title == "Die Cider Connection: Abmahnungen gegen Nutzer von Creative-Commons-Bildern"
    assert m.author == "Markus Reuter"
    assert m.description == (
        "Seit Dezember 2015 verschickt eine Cider Connection zahlreiche "
        "Abmahnungen wegen fehlerhafter Creative-Commons-Referenzierungen. "
        "Wir haben recherchiert und legen jetzt das Netzwerk der Abmahner offen."
    )
    assert m.sitename == "netzpolitik.org"
    assert m.url == url


def test_befifty():
    url = "https://www.befifty.de/home/2017/7/12/unter-uns-montauk"
    m = meta_for("befifty.montauk.html", url)
    assert m.title == "Das vielleicht schönste Ende der Welt: Montauk"
    assert m.author == "Beate Finken"
    assert m.sitename == "BeFifty"
    assert m.categories == ["Travel", "Amerika"]
    assert m.url == url


def test_soundofscience():
    url = "https://www.soundofscience.fr/1927"
    m = meta_for("soundofscience.fr.1927.html", url)
    assert m.title == "Une candidature collective à la présidence du HCERES"
    assert m.author == "Martin Clavey"
    assert m.description.startswith("En réaction à la candidature du conseiller recherche")
    assert m.sitename == "The Sound Of Science"
    assert m.categories == ["Politique scientifique française"]
    assert m.tags == ["évaluation", "HCERES"]
    assert m.url == url


def test_laviedesidees():
    url = "https://laviedesidees.fr/L-evaluation-et-les-listes-de.html"
    m = meta_for("laviedesidees.fr.evaluation.html", url)
    assert m.title == "L’évaluation et les listes de revues"
    assert m.author == "Florence Audier"
    assert m.description.startswith("L'évaluation, et la place")
    assert m.sitename == "La Vie des idées"
    assert m.tags == []
    assert m.url == "http://www.laviedesidees.fr/L-evaluation-et-les-listes-de.html"


def test_theguardian():
    url = "https://www.theguardian.com/education/2020/jan/20/thousands-of-uk-academics-treated-as-second-class-citizens"
    m = meta_for("theguardian.com.academics.html", url)
    assert m.title == "Thousands of UK academics 'treated as second-class citizens'"
    assert m.author == "Richard Adams"
    assert m.description.startswith("Report claims higher education institutions")
    assert m.sitename == "The Guardian"
    assert m.categories == ["Education"]
    assert "Higher education" in m.tags
    assert m.url == "http://www.theguardian.com/education/2020/jan/20/thousands-of-uk-academics-treated-as-second-class-citizens"


def test_phys_org():
    url = "https://phys.org/news/2019-10-flint-flake-tool-partially-birch.html"
    m = meta_for("phys.org.tool.html", url)
    assert m.title == "Flint flake tool partially covered by birch tar adds to evidence of Neanderthal complex thinking"
    assert m.author == "Bob Yirka"
    assert m.sitename == "Phys.org"
    assert m.tags == [
        "Science", "Physics News", "Science news", "Technology News",
        "Physics", "Materials", "Nanotech", "Technology",
    ]


# --- Batch 2 (metadata-realworld_test.go:123-281) ----------------------------

def test_gregoryszorc():
    url = "https://gregoryszorc.com/blog/2020/01/13/mercurial%27s-journey-to-and-reflections-on-python-3/"
    m = meta_for("gregoryszorc.com.python3.html", url)
    assert m.title == "Mercurial's Journey to and Reflections on Python 3"


def test_pluralsight():
    url = "https://www.pluralsight.com/tech-blog/managing-python-environments/"
    m = meta_for("pluralsight.com.python.html", url)
    assert m.title == "Managing Python Environments"
    assert m.author == "John Walk"
    assert m.description.startswith("If you're not careful,")
    assert m.sitename == "pluralsight.com"
    assert m.url == url


def test_stackoverflow_rust():
    url = "https://stackoverflow.blog/2020/01/20/what-is-rust-and-why-is-it-so-popular/"
    m = meta_for("stackoverflow.com.rust.html", url)
    assert m.title == "What is Rust and why is it so popular? - Stack Overflow Blog"
    assert m.author == "Jake Goulding"
    assert m.sitename == "Stack Overflow Blog"
    assert m.categories == ["Bulletin"]
    assert m.tags == ["programming", "rust"]
    assert m.url == url


def test_dw_colonial():
    url = "https://www.dw.com/en/berlin-confronts-germanys-colonial-past-with-new-initiative/a-52060881"
    m = meta_for("dw.com.colonial.html", url)
    assert "Berlin confronts Germany's colonial past with new initiative" in m.title
    assert m.author == "Deutsche Welle"
    assert m.description == (
        "The German capital has launched a five-year project to mark its part in European "
        "colonialism. Streets which still honor leaders who led the Reich's imperial expansion "
        "will be renamed — and some locals aren't happy."
    )
    assert m.sitename == "DW.COM"
    assert "Africa" in m.tags
    assert m.url == url


def test_planetarypress():
    url = "https://www.theplanetarypress.com/2020/01/management-of-intact-forestlands-by-indigenous-peoples-key-to-protecting-climate/"
    m = meta_for("theplanetarypress.com.forestlands.html", url)
    assert m.title.startswith("Management of Intact Forestlands by Indigenous Peoples Key to Protecting Climate")
    assert m.author == "The Planetary Press"
    assert m.sitename == "The Planetary Press"
    assert "Climate" in m.categories
    assert m.url == url


def test_wikimedia_turkey():
    url = "https://wikimediafoundation.org/news/2020/01/15/access-to-wikipedia-restored-in-turkey-after-more-than-two-and-a-half-years/"
    m = meta_for("wikimediafoundation.org.turkey.html", url)
    assert m.title == "Access to Wikipedia restored in Turkey after more than two and a half years"
    assert m.author == "Wikimedia Foundation"
    assert m.description.startswith("Today, on Wikipedia’s 19th birthday")
    assert m.sitename == "Wikimedia Foundation"
    assert m.url == url


def test_reuters_parasite():
    url = "https://www.reuters.com/article/us-awards-sag/parasite-scores-upset-at-sag-awards-boosting-oscar-chances-idUSKBN1ZI0EH"
    m = meta_for("reuters.com.parasite.html", url)
    assert m.title.endswith("scores historic upset at SAG awards, boosting Oscar chances")
    assert m.author == "Jill Serjeant"
    assert m.date == "2020-01-20"
    assert "Film" in m.tags
    assert "South Korea" in m.tags
    assert "Media Industry" in m.categories
    assert m.sitename == "Reuters"
    assert m.url == "https://www.reuters.com/article/us-awards-sag-idUSKBN1ZI0EH"


def test_natgeo_goats():
    url = "https://www.nationalgeographic.co.uk/environment-and-conservation/2020/01/ravenous-wild-goats-ruled-island-over-century-now-its-being"
    m = meta_for("nationalgeographic.co.uk.goats.html", url)
    assert m.author == "Michael Hingston"
    assert m.title == "Ravenous wild goats ruled this island for over a century. Now, it's being reborn."
    assert m.description.startswith("The rocky island of Redonda, once stripped of its flora and fauna")
    assert m.sitename == "National Geographic"
    assert m.categories == ["Environment and Conservation"]
    assert m.url == url


def test_nature_telescope():
    url = "https://www.nature.com/articles/d41586-019-02790-3"
    m = meta_for("nature.com.telescope.html", url)
    assert m.title == "Gigantic Chinese telescope opens to astronomers worldwide"
    assert m.author == "Elizabeth Gibney"
    assert m.description == (
        "FAST has superior sensitivity to detect cosmic phenomena, including fast "
        "radio bursts and pulsars."
    )
    assert m.sitename == "Nature"
    assert "Exoplanets" in m.categories
    assert m.url == url


def test_scmp_playbook():
    url = "https://www.scmp.com/comment/opinion/article/3046526/taiwanese-president-tsai-ing-wens-political-playbook-should-be"
    m = meta_for("scmp.com.playbook.html", url)
    assert m.title == "Carrie Lam should study Tsai Ing-wen’s playbook"
    assert m.author == "Alice Wu"
    assert m.url == url


def test_faz_streaming():
    url = "https://www.faz.net/aktuell/wirtschaft/nutzerbasierte-abrechnung-musik-stars-fordern-neues-streaming-modell-16604622.html"
    m = meta_for("faz.net.streaming.html", url)
    assert m.title == "Nutzerbasierte Abrechnung: Musik-Stars fordern neues Streaming-Modell"
    assert "Benjamin Fischer" in m.author.split("; ")
    assert m.sitename == "Frankfurter Allgemeine Zeitung"
    assert m.url == "https://www.faz.net/1.6604622"


def test_boingboing():
    url = "https://boingboing.net/2013/07/19/hating-millennials-the-preju.html"
    m = meta_for("boingboing.net.millenials.html", url)
    assert m.title == "Hating Millennials - the prejudice you're allowed to boast about"
    assert m.author == "Cory Doctorow"
    assert m.sitename == "Boing Boing"
    assert m.url == url


def test_gofeminin():
    url = "https://www.gofeminin.de/abnehmen/wie-kann-ich-schnell-abnehmen-s1431651.html"
    m = meta_for("gofeminin.de.abnehmen.html", url)
    assert m.title == "Wie kann ich schnell abnehmen? Der Schlachtplan zum Wunschgewicht"
    assert m.author == "Diane Buckstegge"
    assert m.sitename == "Gofeminin"
    assert m.url == url


def test_github_blog():
    url = "https://github.blog/2019-03-29-leader-spotlight-erin-spiceland/"
    m = meta_for("github.blog.spiceland.html", url)
    assert m.title == "Leader spotlight: Erin Spiceland"
    assert m.author == "Jessica Rudder"
    assert m.description.startswith("We’re spending Women’s History")
    assert m.sitename == "The GitHub Blog"
    assert m.categories == ["Community"]
    assert m.url == url


def test_spiegel_albtraum():
    url = "https://www.spiegel.de/spiegel/print/d-161500790.html"
    m = meta_for("spiegel.de.albtraum.html", url)
    assert m.title == "Ein Albtraum"


def test_salon_emissions():
    url = "https://www.salon.com/2020/01/10/despite-everything-u-s-emissions-dipped-in-2019_partner/"
    m = meta_for("salon.com.emissions.html", url)
    assert m.title == "Despite everything, U.S. emissions dipped in 2019"
    assert m.author == "Nathanael Johnson"
    assert m.sitename == "Salon.com"
    assert "Science & Health" in m.categories
    assert "Gas Industry" in m.tags
    assert "coal emissions" in m.tags
    assert m.url == url


def test_ndr_podcast():
    url = "https://www.ndr.de/nachrichten/info/16-Coronavirus-Update-Wir-brauchen-Abkuerzungen-bei-der-Impfstoffzulassung,podcastcoronavirus140.html"
    m = meta_for("ndr.de.podcastcoronavirus140.html", url)
    assert m.url == url
    assert "Korinna Hennig" in m.author
    assert "Ältere Menschen" in m.tags


def test_dailymail():
    url = "https://www.dailymail.co.uk/news/article-9831365/UKs-daily-Covid-cases-fall-SEVENTH-day-Infections-plummet-50-23-511.html"
    m = meta_for("dailymail.co.uk.html", url)
    assert m.url == url
    assert m.author == "Luke Andrews; James Tapsfield"
    assert "news" in m.tags


def test_guardian_date():
    url = "https://www.theguardian.com/education/2020/jan/20/thousands-of-uk-academics-treated-as-second-class-citizens"
    m = meta_for("theguardian.com.academics.html", url)
    assert m.date == "2020-01-20"
