"""Property: the JVM-side N-Triples unescape inverts ANY valid escaping.

Strings are drawn with backslashes, quotes, control characters, and
astral codepoints; a Python reference escaper renders each as a valid
N-Triples literal (randomly choosing ECHAR vs \\uXXXX/\\UXXXXXXXX form
per character, a backslash included), and ``parse_lines`` must recover
the original string bit-for-bit — Sesame NTriplesUtil.unescapeString
parity for the split/transform/surrogate-decode expression in
sources/ntriples.py.
"""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from hbase_rdf_spark.sources.ntriples import parse_lines

_ECHAR = {"\t": "t", "\b": "b", "\n": "n", "\r": "r", "\f": "f",
          '"': '"', "\\": "\\"}

PAYLOAD = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.sampled_from('\t\b\n\r\f"\\'),
        st.characters(min_codepoint=0xA0, max_codepoint=0x2FFF),
        st.characters(min_codepoint=0x1F300, max_codepoint=0x1F64F),
    ),
    max_size=40,
)


def _escape(s: str, style: list[int]) -> str:
    """Valid N-Triples escaping of ``s``; ``style`` picks per-char among
    the legal renderings (raw / ECHAR / \\u / \\U)."""
    out = []
    for i, ch in enumerate(s):
        pick = style[i % len(style)] if style else 0
        cp = ord(ch)
        if ch in _ECHAR and pick == 0:
            out.append("\\" + _ECHAR[ch])
        elif pick == 1 and cp <= 0xFFFF and not 0xD800 <= cp <= 0xDFFF:
            # also a backslash or quote: \u005C, \u0022
            out.append(f"\\u{cp:04X}")
        elif pick == 2:
            out.append(f"\\U{cp:08X}")
        elif ch in '"\\' or cp < 0x20:
            # must escape: ECHAR if available, else \u
            out.append("\\" + _ECHAR[ch] if ch in _ECHAR
                       else f"\\u{cp:04X}")
        else:
            out.append(ch)
    return "".join(out)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    payloads=st.lists(
        st.tuples(PAYLOAD, st.lists(st.integers(0, 2), max_size=5)),
        min_size=1,
        max_size=8,
    )
)
def test_unescape_inverts_any_valid_escaping(spark, payloads):
    lines, want = [], []
    for s, style in payloads:
        lines.append(f'<http://x/s> <http://x/p> "{_escape(s, style)}" .')
        want.append(s)
    df = parse_lines(
        spark.createDataFrame([(l,) for l in lines], "value string")
    )
    rows = df.collect()
    assert all(not r._corrupt for r in rows), "valid escaping flagged"
    assert [r.o_lex for r in rows] == want


# a UCHAR-written backslash is a plain backslash: it never joins the
# text after it into an ECHAR
@pytest.mark.parametrize("lexical, want", [
    (r"\u005Ct", "\\t"),
    (r"a\u005C\u006Eb", "a\\nb"),
])
def test_uchar_backslash_is_not_an_escape(spark, lexical, want):
    df = parse_lines(spark.createDataFrame(
        [(f'<http://x/s> <http://x/p> "{lexical}" .',)], "value string"))
    (row,) = df.collect()
    assert not row._corrupt and row.o_lex == want
