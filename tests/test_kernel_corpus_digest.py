"""Corpus-scale byte-parity pin for the extraction kernel.

The golden fixtures pin a few dozen hand-made documents; this pins the
kernel's whole output over a few thousand generated turns (every payload
kind ``generate_conversation`` emits, NULL, empty and 400-word turns
included) plus a seeded tag-soup corpus (nested and ragged tables, images
in cells, math in every mode, lists, quotes, code, entities, comments,
script and junk-in-tag documents that take the stdlib parser), so a
change to the parser, the special-element pass, the linearizer or the
cleanup chain that moves one output byte anywhere in either corpus fails
here.  The digests were recorded before the DOM fast paths (the builders'
element list, the tokenizer without ``HTMLParser``, text-only table cells,
gated cleanup regexes) went in; they must never need re-recording for a performance
change.

Also pins the builders' element list (``Document.elements``) against a
full ``iter_elements`` walk on fuzzed tag soup, on both the fast tokenizer
and the stdlib fallback.
"""

import random

from hypothesis import given, settings, strategies as st

from extractor.dom import _TreeBuilder, _fast_parse, parse_html
from extractor.kernel import ConvertOptions, convert_batch
from extractor.transcripts import generate_conversation
from scripts.kernel_ab import output_digest

SEED, CONVS, MEAN_TURNS, SOUP_DOCS = 7, 300, 12, 2000

# tag-soup pieces: everything the kernel treats specially, plus the
# constructs that send a document to the stdlib parser
FRAGMENTS = (
    "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>", "<th>", "</th>",
    "<TABLE><TR><TD>", "<td colspan=2>", "<tbody>", "</tbody>",
    "<table><tr><td>in<img src=z.png></td><td>b</td></tr><tr><td>c</td></tr></table>",
    "<td><table><tr><td>n</td></tr></table></td>", "<td>  </td>",
    "<img src='a.png' alt='t'>", "<img src=dir/b.jpg title=T/>", "<IMG SRC=c>",
    "<math>", "</math>", "<math class='math'>", "<math data-latex='x^2'>",
    "<annotation encoding='application/x-tex'>", "</annotation>",
    "<semantics>", "<span>", "</span>", "<span class='math inline'>",
    "<span class='MathJax x'>", "<span class=x/>", "$x$", "$$y$$",
    "<p>", "</p>", "<P CLASS=up>", "<div class='x'>", "</div>", "<br/>",
    "<br>", "<hr>", "<h1>", "</h1>", "<h2>", "</h2>", "<h4>", "</h4>",
    "<ul>", "</ul>", "<ol>", "</ol>", "<li>", "</li>", "<option>",
    "<pre>", "</pre>", "<code>", "</code>", "<blockquote>", "</blockquote>",
    "<b>", "</b>", "<em>", "</em>", "<a href='http://e.com'>", "<a href='#x'>",
    "<a href=foo bar>", "</a>", "text ", "other words here ", "&amp; ",
    "& ", "&#65;", "&unknown;", "> quote", "1. ", "- ", "+ ", "\\", "\n",
    "\t", "    ", "\n\n\n\n", "___TABLE_PLACEHOLDER_0___",
    "___MATH_PLACEHOLDER_0___", "___IMAGE_PLACEHOLDER_0___",
    "<!-- c -->", "<!DOCTYPE html>", "<?pi?>", "<script>x</script>",
    "<style>p{}</style>", '<div a=b"c>', "<p <b>", "a < b", "</ p>", "<3",
    "'", '"', ">", "<div\nclass='m'>",
)

# output_digest of the eight columns, per options
DIGESTS = {
    ConvertOptions(): (
        "9a42689f2dd33d7f79889c7744dff914c90b7cd8bf8ff32d16f8236f2481b824"
    ),
    ConvertOptions(math_engine="mathjax", include_toc=True, toc_depth=2): (
        "22f23647700550bbe56aeae0399f7612b331209dfdbc52bcbf9465026f22cc1b"
    ),
    ConvertOptions(math_engine="mathml"): (
        "45430adb9c7cb5476e0c6e50c0ef4e68c0de77706ebb779bed823287ff95a9a3"
    ),
}


def _corpus() -> list:
    texts = []
    for conv in range(CONVS):
        texts.extend(row[3] for row in generate_conversation(SEED, conv, MEAN_TURNS))
    return texts


def _soup_corpus() -> list:
    rng = random.Random(SEED)
    return [
        "".join(rng.choice(FRAGMENTS) for _ in range(rng.randint(0, 30)))
        for _ in range(SOUP_DOCS)
    ]


def test_corpus_covers_every_payload_kind():
    texts = _corpus()
    assert len(texts) > 3000
    assert any(t is None for t in texts)
    assert any(t == "" for t in texts)
    assert any(t and len(t) > 2000 for t in texts)  # the 400-word turns
    for needle in ("<table>", "<img", "<math", 'class="math', "<blockquote>",
                   "___TABLE_PLACEHOLDER_0___", "\t"):
        assert any(t and needle in t for t in texts), needle
    soup = _soup_corpus()
    # both builders run: the soup has documents each side of the gate
    assert sum(_fast_parse(t) is None for t in soup) > SOUP_DOCS // 10
    assert sum(_fast_parse(t) is not None for t in soup) > SOUP_DOCS // 10


def test_corpus_digest_unchanged():
    import pandas as pd

    texts = pd.Series(_corpus() + _soup_corpus(), dtype=object)
    got = {opts: output_digest([convert_batch(texts, options=opts)]) for opts in DIGESTS}
    assert got == DIGESTS


# --- the builders' element list ----------------------------------------------

_soup = st.lists(
    st.one_of(st.sampled_from(FRAGMENTS), st.text(max_size=6)), max_size=30
).map("".join)


def _stdlib_parse(text: str):
    builder = _TreeBuilder()
    builder.feed(text)
    builder.close()
    return builder.root


def _assert_list_matches_walk(doc) -> None:
    # Element has identity equality: same elements, same order
    assert doc.elements == list(doc.iter_elements())


@settings(max_examples=1500, deadline=None)
@given(_soup)
def test_element_list_equals_walk(text):
    try:
        fast = _fast_parse(text)
        stdlib = _stdlib_parse(text)
    except RecursionError:  # DOM depth cap: both builders raise it
        return
    _assert_list_matches_walk(stdlib)
    if fast is not None:
        _assert_list_matches_walk(fast)
    _assert_list_matches_walk(parse_html(text))


def test_release_breaks_every_parent_link():
    doc = parse_html("<div><p>a<b>b</b></p><table><tr><td>c</td></tr></table></div>")
    doc.release()
    assert all(el.parent is None for el in doc.iter_elements())
