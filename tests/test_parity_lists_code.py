"""Parity tests: lists, code blocks, cache/dedup, filters, language.

Transcribed from /root/reference/trafilatura_test.go:276-318 (cache),
:434-540 (filters/language), :1145-1294 (lists), :1295-1449 (code).
"""

from go_trafilatura_spark import Config, Options, extract, ExtractError
from go_trafilatura_spark import etree
from go_trafilatura_spark.lru import LRUCache
from go_trafilatura_spark.main_extractor import handle_lists
from go_trafilatura_spark.utils import check_html_language, duplicate_test, trim
from go_trafilatura_spark import css, selectors


def zero_config() -> Config:
    return Config(min_extracted_size=0, min_output_size=0)


def zopts(**kw) -> Options:
    return Options(config=zero_config(), **kw)


def default_opts() -> Options:
    return Options(config=Config())


def no_space(s: str) -> str:
    return "".join(s.split())


def iter_node_values(root):
    values = []
    for node in etree.iter_all(root):
        text = trim(node.text)
        values.append(node.tag + "-" + text if text else node.tag)
    return values


def try_extract(html, opts):
    try:
        return extract(html, opts)
    except ExtractError:
        return None


# --- Test_Cache (trafilatura_test.go:276-318) --------------------------------

def test_cache_duplicate_semantics():
    cache = LRUCache(2)
    opts = default_opts()

    div1 = etree.new_element("div")
    p1 = etree.sub_element(div1, "p")
    etree.set_text(p1, "AAAA BBBB " * 12 + "AAAA BBBB")

    assert duplicate_test(p1, cache, opts) is False
    assert duplicate_test(p1, cache, opts) is False
    assert duplicate_test(div1, cache, opts) is False
    assert duplicate_test(p1, cache, opts) is True

    div2 = etree.new_element("div")
    p2 = etree.sub_element(div2, "p")
    etree.set_text(p2, "CCCC DDDD " * 10 + "CCCC DDDD")

    assert duplicate_test(div2, cache, opts) is False
    assert duplicate_test(p2, cache, opts) is False
    assert duplicate_test(div2, cache, opts) is False
    assert duplicate_test(p2, cache, opts) is True

    div3 = etree.new_element("div")
    p3 = etree.sub_element(div3, "p")
    etree.set_text(p3, "EEEE FFFF " * 12 + "EEEE FFFF")

    assert duplicate_test(div3, cache, opts) is False
    assert duplicate_test(div3, cache, opts) is False
    assert duplicate_test(div3, cache, opts) is False

    # Cache not cleared: old entries (cap 2 evicted p1)
    assert duplicate_test(p2, cache, opts) is True
    assert duplicate_test(p3, cache, opts) is True
    assert duplicate_test(p1, cache, opts) is False


# --- Test_Filters (trafilatura_test.go:434-540) -------------------------------

def repeat_element(element: str, repeat: int) -> str:
    return f"<html><body>{element * repeat}</body></html>"


def test_max_tree_size():
    opts = Options(max_tree_size=500)
    assert try_extract(repeat_element("<p>abc</p>", 50), opts) is not None
    assert try_extract(repeat_element("<p>abc</p>", 501), opts) is None
    assert try_extract(repeat_element("<p><i>abc</i></p>", 501), opts) is None
    assert try_extract(repeat_element("<p><i>abc</i></p>", 499), opts) is not None


def test_check_html_language():
    opts = Options(target_language="en")
    doc = etree.parse_html("<html><body></body></html>")
    assert check_html_language(doc, opts, False) is True

    opts = Options(target_language="en")
    doc = etree.parse_html('<html><head><meta http-equiv="content-language" content="en"></head><body></body></html>')
    assert check_html_language(doc, opts, False) is True

    opts = Options(target_language="de")
    assert check_html_language(doc, opts, False) is False

    doc = etree.parse_html('<html><head><meta http-equiv="content-language" content="DE"></head><body></body></html>')
    assert check_html_language(doc, opts, False) is True

    # og:locale supersedes html lang
    doc = etree.parse_html('<html lang="en-US"><head><meta property="og:locale" content="de_DE" /></head><body></body></html>')
    opts = Options(target_language="de")
    assert check_html_language(doc, opts, False) is True
    opts = Options(target_language="en")
    assert check_html_language(doc, opts, False) is False

    # Multi-language lang attribute
    doc = etree.parse_html('<html lang="de_DE, en_US"><body></body></html>')
    for lang in ("de", "en"):
        opts = Options(target_language=lang)
        assert check_html_language(doc, opts, False) is True
        assert check_html_language(doc, opts, True) is True

    # Strict mode checks the html lang attribute
    opts = Options(target_language="it")
    doc = etree.parse_html('<html lang="en"><body></body></html>')
    assert check_html_language(doc, opts, True) is False
    assert check_html_language(doc, opts, False) is True

    # Even strict: og:locale wins over html lang
    opts = Options(target_language="de")
    doc = etree.parse_html('<html lang="en-US"><head><meta property="og:locale" content="de_DE" /></head><body></body></html>')
    assert check_html_language(doc, opts, True) is True
    assert check_html_language(doc, opts, False) is True


def test_language_content_gate():
    html = "<html><body><article><p>How many ages hence Shall this our lofty scene be acted over, In states unborn and accents yet unknown!</p></article></body></html>"
    assert try_extract(html, Options(target_language="de")) is None
    assert try_extract(html, Options(target_language="en")) is not None


# --- Test_ListProcessing (trafilatura_test.go:1145-1294) ---------------------

def test_list_malformed():
    lst = etree.from_string(
        "<ul>Description of the list:"
        "<li>List item 1</li><li>List item 2</li><li>List item 3</li></ul>"
    )
    processed = handle_lists(lst, None, zopts())
    s = etree.tostring(processed)
    assert s.count("List item") == 3
    assert "Description" in s


def test_list_nested():
    html = """
    <html><body><article>
        <ul>
            <li>Coffee</li>
            <li>Tea
                <ul>
                    <li>Black tea</li>
                    <li>Green tea</li>
                </ul>
            </li>
            <li>Milk</li>
        </ul>
    </article></body></html>"""
    result = extract(html, zopts())
    assert no_space(
        "<ul><li>Coffee</li><li>Tea<ul><li>Black tea</li><li>Green tea</li></ul></li><li>Milk</li></ul>"
    ) in no_space(etree.tostring(result.content_node))


def test_list_description():
    html = """
    <html><body><article>
        <dl>
            <dt>Coffee</dt>
            <dd>Black hot drink</dd>
            <dt>Milk</dt>
            <dd>White cold drink</dd>
        </dl>
    </article></body></html>"""
    result = extract(html, zopts())
    assert no_space(
        "<dl><dt>Coffee</dt><dd>Black hot drink</dd><dt>Milk</dt><dd>White cold drink</dd></dl>"
    ) in no_space(etree.tostring(result.content_node))


def test_list_item_with_child():
    processed = handle_lists(etree.from_string("<ul><li><p>text</p></li></ul>"), None, default_opts())
    assert iter_node_values(processed) == ["ul", "li", "p-text"]

    processed = handle_lists(etree.from_string("<ul><li>text1<p>text2</p></li></ul>"), None, default_opts())
    assert iter_node_values(processed) == ["ul", "li-text1", "p-text2"]

    processed = handle_lists(etree.from_string("<ul><li>text<br/>more text</li></ul>"), None, default_opts())
    assert iter_node_values(processed) == ["ul", "li-text", "br"]


def test_list_text_outside_item():
    processed = handle_lists(etree.from_string("<ul>header<li>text</li></ul>"), None, default_opts())
    assert iter_node_values(processed) == ["ul", "li-header", "li-text"]


def test_list_simple():
    processed = handle_lists(etree.from_string("<ul>   <li>text</li></ul>"), None, default_opts())
    assert len(etree.children_of(processed)) == 1


def test_list_item_with_tail():
    processed = handle_lists(etree.from_string("<ul><li>text</li>tail</ul>"), None, default_opts())
    children = etree.children_of(processed)
    assert len(children) == 1
    assert etree.text_content(children[0]) == "text tail"


def test_list_item_with_child_and_tail():
    processed = handle_lists(
        etree.from_string("<ul><li><p>text</p></li>tail</ul>"), None, default_opts()
    )
    children = etree.children_of(processed)
    assert len(children) == 1
    first = children[0]
    assert first.tail == ""
    assert etree.children_of(first)[0].tail == "tail"

    processed = handle_lists(
        etree.from_string("<ul><li><p>text</p>tail1</li>tail</ul>"), None, default_opts()
    )
    first = etree.children_of(processed)[0]
    assert first.tail == ""
    assert etree.children_of(first)[0].tail == "tail1 tail"

    processed = handle_lists(
        etree.from_string("<ul><li><p>text</p>\n</li>tail</ul>"), None, default_opts()
    )
    first = etree.children_of(processed)[0]
    assert first.tail == ""
    assert etree.children_of(first)[0].tail == "tail"


def test_list_item_with_tail_and_nested_list():
    processed = handle_lists(
        etree.from_string("<ul><li><ul><li>text</li></ul></li>tail</ul>"),
        None, default_opts(),
    )
    inner = selectors.query(processed, css.parse_group("li ul"))
    assert inner.tail == "tail"


# --- Test_CodeBlocks (trafilatura_test.go:1295-1449) -------------------------

def test_code_highlightjs():
    html = (
        '<div class="s-prose js-post-body" itemprop="text">'
        "<p>Code:</p>"
        '<pre class="lang-sql s-code-block"><code class="hljs language-sql">code\\n'
        '<span class="hljs-keyword">highlighted</span> more <span class="hljs-keyword">code</span>'
        "</code></pre>"
        "</div>"
    )
    result = extract(html, zopts())
    out = etree.tostring(result.content_node)
    assert "<code>code\\nhighlighted more code</code>" in out
    assert "<q>" not in out


def test_code_github():
    html = (
        '<div class="highlight highlight-source-shell notranslate position-relative overflow-auto" dir="auto">'
        "<pre>$ pip install PyGithub</pre>"
        '<div class="zeroclipboard-container position-absolute right-0 top-0">'
        '<clipboard-copy aria-label="Copy" value="$ pip install PyGithub" tabindex="0" role="button">'
        '<svg aria-hidden="true" height="16"><path d="M0 6.75C0"></path></svg>'
        "</clipboard-copy></div></div>"
    )
    result = extract(html, zopts())
    out = etree.tostring(result.content_node)
    assert "<code>$ pip install PyGithub</code>" in out
    assert "<q>" not in out


def test_code_inline():
    html = "<div><p>paragraph</p><p>here is <code>some</code> code</p></div>"
    result = extract(html, zopts())
    out = etree.tostring(result.content_node)
    assert "<code>some</code>" in out
    assert "<q>" not in out


def test_code_pre_lang():
    html = """
    <div>
        <p>Code:</p>
        <pre lang="python3">
            <span class="kn">import</span>
            <span class="nn">openai</span>
            <span class="kn">from</span>
            <span class="nn">openai_function_call</span>
            <span class="kn">import</span>
            <span class="n">openai_function</span>
        </pre>
    </div>"""
    result = extract(html, zopts())
    out = trim(etree.tostring(result.content_node))
    assert "<code> import openai from openai_function_call import openai_function </code>" in out
    assert "<q>" not in out


def test_code_medium_js():
    html = """
    <div>
        <p>Code:</p>
        <pre class="lw lx ly lz ma nq nr ns bo nt ba bj">
            <span id="fe48" class="nu mo ev nr b bf nv nw l nx ny" data-selectable-paragraph="">
                <span class="hljs-keyword">import</span> openai_function<br><br>
                <span class="hljs-meta">@openai_function</span>
            </span>
        </pre>
    </div>"""
    result = extract(html, zopts())
    out = trim(etree.tostring(result.content_node))
    assert "<code> import openai_function<br/><br/> @openai_function </code>" in out
    assert "<q>" not in out


def test_code_medium_ssr():
    html = """
    <div>
        <p>Code:</p>
        <pre class="lw lx ly lz ma nq nr ns bo nt ba bj">
            <span id="fe48" class="nu mo ev nr b bf nv nw l nx ny">
                import openai_function<br><br>
                @openai_functiondef sum(a:int, b:int):<br/>
                &quot;&quot;&quot;Sum description adds a + b&quot;&quot;&quot;
            </span>
        </pre>
    </div>"""
    result = extract(html, zopts())
    out = trim(etree.tostring(result.content_node))
    assert (
        "<code> import openai_function<br/><br/> @openai_functiondef sum(a:int, b:int):<br/> "
        "&#34;&#34;&#34;Sum description adds a + b&#34;&#34;&#34; </code>"
    ) in out
    assert "<q>" not in out


def test_code_element():
    html = "<div><p>Code:</p><pre><code><span>my code</span></code></pre>"
    result = extract(html, zopts())
    out = trim(etree.tostring(result.content_node))
    assert "<code>my code</code>" in out
    assert "<q>" not in out


# --- Test_LanguageClassifier (trafilatura_test.go:245-275) --------------------

def test_language_classifier_cases():
    from go_trafilatura_spark.utils import language_classifier

    assert language_classifier("Hier ist ein Text auf Deutsch", "") == "de"
    assert language_classifier("Hier ist ein Text auf Deutsch", "") != "en"
    # comments longer than content → classify the comments
    assert language_classifier(
        "Hier ist ein Text auf Deutsch", "Die Kommentare sind aber etwas länger."
    ) == "de"
    assert language_classifier(
        "This is English.", "Die Kommentare sind aber etwas länger."
    ) == "de"


def test_language_in_extract_result():
    from go_trafilatura_spark import Config, Options, extract

    opts = Options(config=Config(min_extracted_size=0, min_output_size=0),
                   enable_fallback=True, original_url="https://example.org")
    result = extract("<html><body><p>Texto en español</p></body></html>", opts)
    assert result.metadata.language == "es"

    result = extract("<html><body><p>Après la pluie, le beau temps.</p></body></html>", opts)
    assert result.metadata.language == "fr"
