"""The html -> text extractor that runs on executors (``extract_text``,
Arrow kernels) against the pinned reference (``extract_text_series``,
pandas over Python ``re``), byte for byte: a fixed set of edge cases, a
differential fuzz, and the Python ``re`` classes the kernel patterns
spell out, re-derived from the running interpreter."""

from __future__ import annotations

import re
import sys

import pandas as pd
import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from yadamu___yet_another_data_migration_utility_spark.functions.extract import (
    _PY_ICASE,
    _PY_SPACE,
    _PY_WORD,
    _ranges,
    extract_text_arrow,
    extract_text_series,
)

_EVERY_CHAR = "".join(map(chr, range(sys.maxunicode + 1)))
_SPACES = [chr(lo + i) for lo, hi in _ranges(_PY_SPACE) for i in range(hi - lo + 1)]


def assert_identical(pages: list) -> None:
    want = extract_text_series(pd.Series(pages, dtype=object)).tolist()
    got = extract_text_arrow(pa.array(pages, pa.binary())).to_pylist()
    assert got == want


EDGES = [
    None, b"",
    # Python's (?i) folds i to U+0130/U+0131 and s to U+017F; RE2's does not
    "<SCRİPT>x</script>y".encode(), "<scrıpt>x</SCRIPT>y".encode(),
    "<ſtyle>x</style>y".encode(), "<style>x</ſTYLE >y".encode(),
    # Python's \b is Unicode: none of these opens a script element
    "<scriptä>x</script>y".encode(), b"<script_>x</script>y", b"<script1>x</script>y",
    b"<script-x>a</script>b", b"<script</script>x</script>y", b"<script<</script>x",
    b"<script \n>x</script\n\t >y", "<style>x</style　\x85>y".encode(),
    b"<style>x</STYLE  >y</style>z", b"<script>a</script>b</script>c",
    # unterminated tags and comments
    b"<script>never closed", b"<style", b"<!-- never closed", b"a<b", b"<!-->x-->y",
    b"<!--a--b-->c", b"x<p\nclass='a'>y",
    # numeric references
    "&#١٢;".encode(), b"&#0;", b"&#00065;", b"&#55296;", b"&#57343;x&#56320;",
    b"&#1114111;", b"&#1114112;", b"&#9999999;", b"&#12345678;", b"&#x41;", b"&#;",
    b"&#160;a&#160;", b"&#10;&#32;&#9;",
    # chains: decoding one reference must not create another
    b"&amp;#38;", b"&#38;#60;", b"&#38;lt;", b"&amp;amp;lt;", b"&&#35;60;",
    b"&#&#50;;", b"&#6&#48;;", "&#&#1633;2;".encode(), b"&#38;&#38;#38;",
    # invalid UTF-8: a lone byte, an encoded surrogate, an overlong, a cut sequence
    b"\xff<p>x</p>", b"\xed\xa0\x80", b"\xc0\xaf", b"<p>\xe2\x82</p>",
] + [f"a{c}b{c}{c}c{c}".encode() for c in _SPACES]


def test_edge_cases_identical():
    assert_identical(EDGES)
    for page in EDGES:  # alone: the per-batch choices (UTF-8 repair, references) differ
        assert_identical([page])


_FRAGMENTS = [
    "<", ">", "/", "</", "<!--", "-->", "!", "-", "script", "SCRİPT", "scrıpt", "ſtyle",
    "style", "STYLE", "p", "ä", "_", "a", "1", "&", "#", ";", "&#", "&amp;", "&lt;",
    "&gt;", "&quot;", "&#39;", "&nbsp;", "&#60;", "&#38;", "&#55296;", "&#8364;", "&#0;",
    "&#1114112;", "١٢", "&#١٢;", "0", "7", *_SPACES,
]
PAGE = st.one_of(
    st.none(),
    st.binary(max_size=40),
    st.lists(st.sampled_from([f.encode() for f in _FRAGMENTS]
                             + [b"\xff", b"\xed\xa0\x80", b"\xc3"]), max_size=30)
    .map(b"".join),
)


@settings(max_examples=400, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(pages=st.lists(PAGE, max_size=12))
def test_arrow_extract_matches_reference_fuzz(pages):
    assert_identical(pages)


def _runs(pattern: str) -> list[tuple[int, int]]:
    return [(m.start(), m.end() - 1) for m in re.finditer(pattern, _EVERY_CHAR)]


def test_python_classes_pinned():
    """A Python or Unicode upgrade that moves ``\\s``, ``\\w`` or the
    case folds of "script"/"style" fails here, not as drifted text."""
    assert _ranges(_PY_SPACE) == _runs(r"\s+")
    assert _ranges(_PY_WORD) == _runs(r"\w+")
    assert set(_PY_ICASE) == set("script" + "style")
    for letter, folds in _PY_ICASE.items():
        assert sorted(folds) == re.findall("(?i)" + letter, _EVERY_CHAR), letter
