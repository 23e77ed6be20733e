"""Native N-Triples / N-Quads ingestion — the reference's S1/S2 path.

The reference bulk loader parses N-Quads text lines with Sesame's
NQuadsParser, counting and skipping malformed lines
(reference: bulkload/QuadBreakDown.java:55-155, error counters :103-109)
and normalizing a missing context to ``http://DEFAULT_CONTEXT``
(reference: QuadBreakDown.java:43,120-127). This module reproduces that
contract as pure JVM column expressions over ``spark.read.text``:

- one master regex per term position (regexp_extract — vectorized,
  whole-stage codegen, no Python);
- malformed lines → ``_corrupt = true`` rows (count = the reference's
  Hadoop error counter; they are excluded from quads but reported);
- numeric-literal objects (the 16 XSD numeric datatypes of
  reference: id/TypedId.java:24-44) become inlined typed values
  (``o_kind=2, o_num``) — never dictionary entries;
- everything funnels into the SAME encode/materialize pipeline as the
  transcript path, so a user can bulk-load real RDF exactly like the
  reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_CONTEXT = "http://DEFAULT_CONTEXT"

# W3C N-Triples grammar (round-5 conformance sweep): UCHAR
# (\uXXXX / \UXXXXXXXX) is the only escape form inside IRIREF; string
# literals allow ECHAR ([tbnrf"'\]) and UCHAR only — an unknown escape
# (\z) makes the LINE malformed, exactly Sesame's NTriplesParser
# behavior behind the reference's count-and-skip
# (QuadBreakDown.java:103-109). Blank-node labels follow the NT 1.1
# shape (leading digit/underscore legal, dots allowed inside but not
# at the end), restricted to its ASCII subset — the PN_CHARS unicode
# ranges are out of scope for the synthetic corpora this engine loads.
_UCHAR = r"\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8}"
_IRI = rf'<((?:[^<>"{{}}|^`\\\x00-\x20]|{_UCHAR})*)>'
_BNODE = r"(_:[A-Za-z0-9_](?:[A-Za-z0-9_.\-]*[A-Za-z0-9_\-])?)"
_LITERAL = (
    '("(?:[^"\\\\\\x0A\\x0D]|\\\\[tbnrf"\'\\\\]|'
    "\\\\u[0-9A-Fa-f]{4}|\\\\U[0-9A-Fa-f]{8})*\")"
)
# a literal carries a language tag XOR a datatype, never both
_LANG_OR_DT = (
    r"(?:@([a-zA-Z]+(?:-[a-zA-Z0-9]+)*)"
    rf'|\^\^<((?:[^<>"{{}}|^`\\\x00-\x20]|{_UCHAR})*)>)?'
)

_S = f"(?:{_IRI}|{_BNODE})"
_O = f"(?:{_IRI}|{_BNODE}|{_LITERAL}{_LANG_OR_DT})"
_C = f"(?:\\s+(?:{_IRI}|{_BNODE}))?"

# full-line pattern; groups: 1 s_iri, 2 s_bnode, 3 p_iri, 4 o_iri,
# 5 o_bnode, 6 o_lit (quoted), 7 o_lang, 8 o_dt, 9 c_iri, 10 c_bnode
LINE_RX = rf"^\s*{_S}\s+{_IRI}\s+{_O}{_C}\s*\.\s*$"

XSD = "http://www.w3.org/2001/XMLSchema#"
# the numeric XSD types the reference inlines into TypedId
# (reference: id/TypedId.java:24-44)
NUMERIC_DATATYPES = [
    XSD + t
    for t in (
        "double float decimal integer nonPositiveInteger negativeInteger "
        "long int short byte nonNegativeInteger unsignedLong unsignedInt "
        "unsignedShort unsignedByte positiveInteger"
    ).split()
]

_ECHARS = [
    ("t", "\t"), ("b", "\b"), ("n", "\n"), ("r", "\r"), ("f", "\f"),
    ('"', '"'), ("'", "'"),
]


def _cp_to_char(cp):
    """Codepoint (long column) → the character, pure JVM: UTF-16BE
    bytes via unhex/decode; astral codepoints go through the surrogate
    computation (Spark's chr() is ASCII-only, so this is the only
    codegen-able route)."""
    hex4 = F.lpad(F.hex(cp), 4, "0")
    off = cp - F.lit(0x10000)
    hi = F.lpad(F.hex(F.lit(0xD800) + F.shiftright(off, 10)), 4, "0")
    lo = F.lpad(F.hex(F.lit(0xDC00) + F.pmod(off, F.lit(1024))), 4, "0")
    return F.when(
        cp > 0xFFFF, F.decode(F.unhex(F.concat(hi, lo)), "UTF-16BE")
    ).otherwise(F.decode(F.unhex(hex4), "UTF-16BE"))


def _echars(col):
    """ECHAR replaces — plain (non-regex) and order-free on text whose
    every backslash starts a true escape."""
    for esc, ch in _ECHARS:
        col = F.replace(col, F.lit("\\" + esc), F.lit(ch))
    return col


def _unescape_segment(seg):
    """Unescape one ``\\\\``-free segment: every remaining backslash
    starts a TRUE escape (the caller split on double backslashes), so
    per-kind replacement is order-independent. A zero-width split keeps
    each UCHAR at a piece head; the ECHARs are replaced in each piece's
    tail BEFORE the decoded UCHAR is prepended, so a UCHAR-written
    backslash (``\\u005C``) never joins the text after it into a fake
    escape."""
    pieces = F.split(seg, r"(?=\\[uU])", -1)

    def _piece(p):
        is4 = p.rlike(r"^\\u[0-9A-Fa-f]{4}")
        is8 = p.rlike(r"^\\U[0-9A-Fa-f]{8}")
        cp4 = F.conv(F.substring(p, 3, 4), 16, 10).cast("long")
        cp8 = F.conv(F.substring(p, 3, 8), 16, 10).cast("long")
        return (
            F.when(is8, F.concat(
                _cp_to_char(cp8), _echars(F.substring(p, 11, 1 << 30))))
            .when(is4, F.concat(
                _cp_to_char(cp4), _echars(F.substring(p, 7, 1 << 30))))
            .otherwise(_echars(p))
        )

    return F.array_join(F.transform(pieces, _piece), "")


def unescape_nt(col):
    """N-Triples string unescaping (ECHAR + UCHAR), entirely JVM-side.

    A single left-to-right scan can't be expressed as chained regex
    replaces (``\\\\t`` is backslash+t, not TAB), so: split on literal
    ``\\\\`` first — the segments then contain only true escapes and
    unescape order-free — and rejoin with a single backslash. Sesame's
    NTriplesUtil.unescapeString does the same scan imperatively; here
    it stays inside whole-stage codegen."""
    segs = F.split(col, r"\\\\", -1)
    return F.array_join(F.transform(segs, _unescape_segment), "\\")


def parse_lines(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """text lines → parsed quad terms + corrupt flag. Pure JVM regex."""
    g = lambda i: F.regexp_extract(F.col(text_col), LINE_RX, i)  # noqa: E731
    matched = F.col(text_col).rlike(LINE_RX)
    # \s-aware (F.trim strips only spaces — a tab-only line is blank too)
    blank = F.col(text_col).rlike(r"^\s*$")
    comment = F.col(text_col).rlike(r"^\s*#")

    s = F.when(g(1) != "", g(1)).otherwise(g(2))
    o_dt = g(8)
    is_numeric = o_dt.isin(NUMERIC_DATATYPES) | (o_dt == XSD + "boolean")

    # bind the raw quoted literal once, then strip quotes + unescape
    # (full ECHAR + UCHAR — Sesame NTriplesUtil.unescapeString parity)
    df = lines.withColumn("_olit", g(6))
    o_lex_lit = F.when(
        F.length("_olit") >= 2,
        unescape_nt(F.expr("substring(_olit, 2, length(_olit) - 2)")),
    )
    # full xsd:boolean lexical space {true, false, 1, 0}; try_cast so an
    # ill-typed numeric literal ("12x"^^xsd:integer) degrades to a
    # kind-1 string literal (wrapper preserved) instead of failing the
    # whole scan under ANSI casts — the term is still a legal RDF
    # literal, just not a number
    bool_num = F.when(o_lex_lit.isin("true", "1"), F.lit(1.0)).when(
        o_lex_lit.isin("false", "0"), F.lit(0.0)
    )
    o_num = F.when(
        is_numeric,
        F.when(o_dt == XSD + "boolean", bool_num).otherwise(
            o_lex_lit.try_cast("double")
        ),
    )

    out = df.select(
        s.alias("s"),
        F.when(g(2) != "", F.lit("bnode")).otherwise(F.lit("uri")).alias("s_kind"),
        g(3).alias("p"),
        F.when(g(4) != "", g(4))
        .when(g(5) != "", g(5))
        .otherwise(o_lex_lit)
        .alias("o_lex"),
        F.when(g(4) != "", F.lit(0))
        .when(g(5) != "", F.lit(0))
        .when(is_numeric & o_num.isNotNull(), F.lit(2))
        .otherwise(F.lit(1))
        .cast("tinyint")
        .alias("o_kind"),
        o_num.alias("o_num"),
        F.when(g(7) != "", g(7)).alias("o_lang"),
        F.when(o_dt != "", o_dt).alias("o_datatype"),
        F.coalesce(
            F.when(g(9) != "", g(9)),
            F.when(g(10) != "", g(10)),
            F.lit(DEFAULT_CONTEXT),  # QuadBreakDown.java:43 rule
        ).alias("c"),
        (~matched & ~blank & ~comment).alias("_corrupt"),
        (blank | comment).alias("_skip"),
    )
    return out


def read_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """Directory/file of .nt/.nq text → parsed quads (S2 analog)."""
    return parse_lines(spark.read.text(path))


def quads(parsed: DataFrame) -> DataFrame:
    """Valid rows only, in the engine's resolved-triple shape.

    Column mapping into the shared encode path: subj=s IRI/bnode label,
    pred=p, obj=o lexical, obj_kind as parsed; context carried through.
    """
    # language-tagged and (non-numeric) datatyped literals keep their
    # tag in N-Triples lexical form ('"lex"@lang' / '"lex"^^<dt>') so
    # lang()/langMatches can recover tags, '"x"@en' ≠ '"x"^^<dt>' ≠
    # plain 'x', and SPARQL constants with custom datatypes (reference:
    # data/test-queries.rq:3-8, squareKilometre) match what is stored —
    # the HBaseValue lang/datatype slots of the reference
    # (reference: id/HBaseValue.java:61-104)
    obj = (
        F.when(
            (F.col("o_kind") == 1) & F.col("o_lang").isNotNull(),
            F.concat(F.lit('"'), F.col("o_lex"), F.lit('"@'), F.col("o_lang")),
        )
        .when(
            (F.col("o_kind") == 1) & F.col("o_datatype").isNotNull(),
            F.concat(
                F.lit('"'), F.col("o_lex"), F.lit('"^^<'),
                F.col("o_datatype"), F.lit(">"),
            ),
        )
        .when(
            # inlined numerics (incl. booleans as 1.0/0.0) carry the
            # VALUE, not the lexical — "true"^^xsd:boolean must not
            # reach encode_quads' numeric cast as the string 'true'
            F.col("o_kind") == 2,
            F.col("o_num").cast("string"),
        )
        .otherwise(F.col("o_lex"))
    )
    return (
        parsed.filter(~F.col("_corrupt") & ~F.col("_skip"))
        .select(
            F.col("c").alias("conv_id"),  # context slots into the c position
            F.lit(0).alias("turn_idx"),
            F.col("s").alias("subj"),
            F.col("p").alias("pred"),
            obj.alias("obj"),
            F.col("o_kind").alias("obj_kind"),
        )
    )


def corrupt_count(parsed: DataFrame) -> int:
    """The reference's malformed-line counter (QuadBreakDown.java:103-109)."""
    return parsed.filter(F.col("_corrupt")).count()
