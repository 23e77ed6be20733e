"""Label-space helpers of the expression compiler (plans/expr.py).

Label-space predicates — ``regex``, ``str()`` comparisons,
``lang()``/``datatype()``, dateTime values, ``isIRI/isBlank`` (blank
nodes share kind 0 with IRIs and differ only in their ``_:`` label
prefix — sources/ntriples.py:29) — read a variable's stored label from
a ``__{var}_flbl`` column. The executor attaches it before applying
such a filter and drops it after (``plans/bgp.py _apply_filters``).
The helpers here build values over that column: ``str_value``, the
dateTime component and timezone extractors, and ``dt_instant``.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# stored lexical form of tagged/typed literals: '"lex"@lang' or
# '"lex"^^<dt>' (see sources/ntriples.py quads())
_TAGGED_RX = r'^"(.*)"(?:@[A-Za-z0-9-]+|\^\^<[^<>]*>)$'


def _flbl(name: str) -> Column:
    return F.col(f"__{name}_flbl")


def str_value(name: str) -> Column:
    """SPARQL ``str(?v)``: IRI string, or the literal's lexical form
    (tag/datatype wrappers stripped), or the numeric value."""
    lbl = _flbl(name)
    lex = F.when(
        lbl.rlike(_TAGGED_RX), F.regexp_extract(lbl, _TAGGED_RX, 1)
    ).otherwise(lbl)
    return F.coalesce(lex, F.col(name).getField("num").cast("string"))


#: ISO-8601 component extraction from an xsd:dateTime/xsd:date lexical
#: form (SPARQL 1.1 §17.4.5). Pure JVM regex over the stripped label —
#: no timestamp parsing, so timezone suffixes pass through untouched
#: and a non-dateTime operand extracts '' → NULL → type error (row
#: dropped in FILTER, unbound in BIND), per the spec's error rules.
DT_PART_RX = {
    "year": r"^(-?\d{4,})-\d{2}-\d{2}",
    "month": r"^-?\d{4,}-(\d{2})-\d{2}",
    "day": r"^-?\d{4,}-\d{2}-(\d{2})",
    "hours": r"^-?\d{4,}-\d{2}-\d{2}T(\d{2}):",
    "minutes": r"^-?\d{4,}-\d{2}-\d{2}T\d{2}:(\d{2})",
    "seconds": r"^-?\d{4,}-\d{2}-\d{2}T\d{2}:\d{2}:(\d{2}(?:\.\d+)?)",
}


def dt_part(lex: Column, part: str) -> Column:
    """Numeric dateTime component of a lexical column (NULL = error)."""
    return F.regexp_extract(lex, DT_PART_RX[part], 1).try_cast("double")


def tz_part(lex: Column) -> Column:
    """``TZ()`` §17.4.5.8: 'Z' / '+05:30' / '' when no timezone; NULL
    (type error) when the operand is not a date/dateTime lexical."""
    return F.when(
        lex.rlike(r"^-?\d{4,}-\d{2}-\d{2}"),
        F.regexp_extract(lex, r"(Z|[+-]\d{2}:\d{2})$", 1),
    )


def timezone_duration(lex: Column) -> Column:
    """``TIMEZONE()`` §17.4.5.7: the operand's timezone as an
    xsd:dayTimeDuration lexical — 'PT0S' for Z/+00:00, 'PT5H30M',
    '-PT8H'. NULL (type error) when the operand has NO timezone or is
    not a date/dateTime lexical (the spec raises where TZ() returns
    '')."""
    tz = tz_part(lex)
    h = F.regexp_extract(tz, r"^[+-](\d{2}):", 1).try_cast("int")
    m = F.regexp_extract(tz, r":(\d{2})$", 1).try_cast("int")
    body = F.concat(
        F.when(
            tz.startswith("-") & ((h > 0) | (m > 0)), F.lit("-")
        ).otherwise(F.lit("")),
        F.lit("PT"),
        F.when(h > 0, F.concat(h.cast("string"), F.lit("H"))).otherwise(
            F.lit("")
        ),
        F.when(m > 0, F.concat(m.cast("string"), F.lit("M"))).otherwise(
            F.lit("")
        ),
        F.when((h == 0) & (m == 0), F.lit("0S")).otherwise(F.lit("")),
    )
    return F.when(tz == "Z", F.lit("PT0S")).when(tz != "", body)


#: stored typed-literal suffix of the two chronological XSD types
DT_TYPED_RX = (
    r"\^\^<http://www\.w3\.org/2001/XMLSchema#(?:dateTime|date)>$"
)


def dt_instant(lbl: Column) -> Column:
    """Chronological value of a date/dateTime LABEL column: the quoted
    lexical parsed as a timestamp (a date-only lexical is midnight).
    NULL = not a date/dateTime literal → type error → row dropped.
    Untimezoned lexicals read in the session timezone — the
    implementation-defined choice SPARQL/XSD §3.2.7.4 permits."""
    lex = F.when(
        lbl.rlike(DT_TYPED_RX), F.regexp_extract(lbl, _TAGGED_RX, 1)
    )
    return lex.try_cast("timestamp")
