"""Value coercion as Catalyst ``Column`` expressions (C4-C11 in SURVEY §2).

The reference coerces record values one at a time in a Python loop
(reference target_parquet/sinks.py:72-112, 165-166).  Here each declared
field becomes ONE vectorized Column expression applied to the whole
micro-batch — the per-record loop disappears and the coercions run as
generated code on the JVM (the date-time format chain, which only non-ISO
rows reach, runs interpreted; see ``lenient_timestamp``).

Input convention: the Singer RECORD payload is parsed with
``from_json(record, <all-string struct>)`` so every declared field arrives
as its *raw JSON text* (Spark captures nested objects/arrays as their JSON
serialization — this is the engine's row-raw representation).  The
expressions below implement, per resolved type (schema.resolve_type — the
same resolution as the schema path, fixing reference BUG-3):

- C9  null preservation: raw NULL stays NULL (falsy ``0``/``0.0``/``False``/
      ``""`` survive — native SQL null semantics; reference sinks.py:73-74).
- C10 empty-string -> null for non-string targets (reference sinks.py:87-88).
- C4  number: ``try_cast(double)``  (reference float(), sinks.py:90-91;
      unparseable values become null instead of crashing the pipe).
- C5  integer: ``try_cast(long)``  (reference int(), sinks.py:93-94).
- C6/C11 date-time: lenient multi-format parse, malformed -> NULL
      (``datetime_error_treatment = NULL``, reference sinks.py:141-143,
      177-208), truncated to millisecond precision to match the reference's
      ``pa.timestamp("ms")`` sink type (reference sinks.py:40-41).
- C7  string: raw text passthrough (JSON numbers keep their literal text,
      matching Python ``str()``; JSON ``true`` arrives as ``"true"`` — the
      reference's ``str(True) == "True"`` spelling is available via the
      exact-compat ingest path in io/singer_source.py).
- C8  nested array/object -> JSON string: the raw captured subtree text
      (reference json.dumps, sinks.py:106-110; equality is JSON round-trip,
      not byte-identical whitespace).

BUG-2 fix (reference tests/README.md:38-50): a null in a non-nullable
column never produces an unreadable file — strict mode rejects the batch,
lenient mode writes null and counts a violation (see target.py).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from target_parquet_spark.schema import ResolvedField

__all__ = ["coerce_expr", "coerce_columns", "lenient_timestamp"]

# Fallback patterns tried after Spark's ISO-8601 cast, approximating
# dateutil-grade leniency (reference uses dateutil.parser, sinks.py:96-101).
# Ordering mirrors dateutil's month-first-then-day-first resolution: the
# M/d form is tried before d/M, so "01/02/2024" is Jan 2 (dateutil default)
# while "15/01/2024" falls through M/d (month 15 -> null under try_) into
# d/M and still parses — exactly dateutil's fallback behavior.  Extended in
# r3 (VERDICT #9) from the dateutil spellings exercised by the reference's
# parse path (reference sinks.py:96-101, 197); the corpus is pinned
# against python-dateutil itself in tests/test_r3_hardening.py.
_TS_FORMATS = [
    "M/d/yyyy H:m:s",
    "M/d/yyyy",
    "d/M/yyyy H:m:s",
    "d/M/yyyy",
    "M-d-yyyy H:m:s",
    "M-d-yyyy",
    "d-M-yyyy H:m:s",
    "d-M-yyyy",
    "yyyy/M/d H:m:s",
    "yyyy/M/d",
    "yyyy.M.d H:m:s",
    "yyyy.M.d",
    "yyyyMMdd'T'HHmmss",
    "yyyyMMdd",
    "MMM d yyyy H:m:s",
    "MMM d yyyy",
    "d MMM yyyy H:m:s",
    "d MMM yyyy",
    "d MMMM yyyy H:m:s",
    "d MMMM yyyy",
    "d-MMM-yyyy H:m:s",
    "d-MMM-yyyy",
    # r5 (VERDICT r4 #9): remaining dateutil spellings — bare month-name
    # dates, 12-hour AM/PM clocks, and named-zone suffixes (UTC/GMT, which
    # dateutil resolves itself; other abbreviations need a tzinfos map in
    # dateutil too, so they are out of scope on both engines).
    # r6: the comma-variant formats are GONE — commas are normalized away
    # in the cleaning pass (dateutil ignores them wherever they appear),
    # so only comma-less patterns can ever match the cleaned string.
    "MMMM d yyyy H:m:s",
    "MMMM d yyyy",
    "M/d/yyyy h:m:s a",
    "M/d/yyyy h:m a",
    "MMM d yyyy h:m:s a",
    "MMM d yyyy h:m a",
    "MMMM d yyyy h:m:s a",
    "MMMM d yyyy h:m a",
    "d MMM yyyy h:m:s a",
    "d MMM yyyy h:m a",
    "d MMMM yyyy h:m:s a",
    "d MMMM yyyy h:m a",
    "yyyy-MM-dd h:m:s a",
    "yyyy-MM-dd h:m a",
    # r6: hour-only meridiem clocks ("June 3 2021 4pm" — the cleaning
    # pass separates an attached am/pm from its digit first)
    "M/d/yyyy h a",
    "MMM d yyyy h a",
    "MMMM d yyyy h a",
    "d MMM yyyy h a",
    "d MMMM yyyy h a",
    "yyyy-MM-dd h a",
]

# Formats evaluated against the TZ-SUBSTITUTED string (see
# lenient_timestamp): the XXX-offset variants fed by the tzinfos map
# (r7, VERDICT r6 #6 — a trailing mapped abbreviation becomes "+HH:MM"
# in the cleaning pass; dateutil needs the same literal map via its
# tzinfos= argument, which is the parity contract), PLUS the zzz
# zone-name formats (UTC/GMT).  The zzz formats MUST run on the
# substituted string and AFTER the XXX ones: java.time's zone-text
# parser resolves bare abbreviations like CST to DST-observing REGION
# zones (America/Chicago — summer dates come back -05:00 where the
# contract says -06:00), so mapped abbreviations have to be replaced
# by their fixed offsets before any zzz attempt can see them (review
# r7 finding #1).  Two lists so the split is structural, not a counted
# slice (finding #4).
_TZ_TS_FORMATS = [
    "yyyy-MM-dd H:m:s XXX",
    "yyyy-MM-dd'T'H:m:s XXX",
    # ADVICE r7: fractional-second shapes.  Without them the abbrev
    # gate (which suppresses the ISO cast for any mapped trailing
    # abbreviation) nulled strings like "2024-01-15 10:30:00.123 EST"
    # that the plain cast used to parse (correctly only in winter).
    "yyyy-MM-dd H:m:s.SSS XXX",
    "yyyy-MM-dd'T'H:m:s.SSS XXX",
    "M/d/yyyy H:m:s XXX",
    "d/M/yyyy H:m:s XXX",
    "MMM d yyyy H:m:s XXX",
    "MMMM d yyyy H:m:s XXX",
    "d MMM yyyy H:m:s XXX",
    "M/d/yyyy h:m:s a XXX",
    "M/d/yyyy h:m a XXX",
    "MMM d yyyy h:m:s a XXX",
    "MMM d yyyy h:m a XXX",
    "yyyy-MM-dd h:m:s a XXX",
    "yyyy-MM-dd h:m a XXX",
    "yyyy-MM-dd H:m:s zzz",
    "yyyy-MM-dd'T'H:m:s zzz",
]

# r7: literal abbreviation -> offset map (VERDICT r6 #6).  dateutil
# cannot resolve these either without an explicit ``tzinfos`` mapping;
# THIS dict is that mapping's single source of truth — the test corpus
# passes the same dict (converted to seconds) to dateutil, so the two
# engines agree by construction.  UTC/GMT stay on the zzz path above
# (dateutil resolves those itself).  Ambiguous abbreviations (CST, IST)
# resolve to the offset recorded here — an explicit tzinfos map is the
# only way dateutil disambiguates them too.
TZ_ABBREV_OFFSETS = {
    "EST": "-05:00", "EDT": "-04:00",
    "CST": "-06:00", "CDT": "-05:00",
    "MST": "-07:00", "MDT": "-06:00",
    "PST": "-08:00", "PDT": "-07:00",
    "AKST": "-09:00", "AKDT": "-08:00",
    "HST": "-10:00",
    "WET": "+00:00", "WEST": "+01:00",
    "CET": "+01:00", "CEST": "+02:00",
    "EET": "+02:00", "EEST": "+03:00",
    "BST": "+01:00",
    "IST": "+05:30",
    "SGT": "+08:00", "HKT": "+08:00",
    "JST": "+09:00", "KST": "+09:00",
    "AEST": "+10:00", "AEDT": "+11:00",
    "NZST": "+12:00", "NZDT": "+13:00",
}

# Trailing-abbreviation detector on the RAW string (one cheap rlike):
# gates the ISO cast off for rows the tzinfos map owns.
_TZ_ABBREV_TRAILING = (
    r"\s(" + "|".join(sorted(TZ_ABBREV_OFFSETS, key=len, reverse=True))
    + r")\s*$"
)

# Leading weekday tokens dateutil skips ("Tuesday, June 3, 2021");
# anchored, so month names containing weekday substrings can't be hit.
_WEEKDAY_PREFIX = (
    r"(?i)^\s*(monday|tuesday|wednesday|thursday|friday|saturday|sunday"
    r"|mon|tue|tues|wed|thu|thur|thurs|fri|sat|sun)[,.]?\s+"
)


def _once(value: Column, fn: Callable[[Column], Column]) -> Column:
    """``fn(value)`` as a one-element ``transform`` lambda.  Spark
    evaluates higher-order functions interpreted, argument included, so
    none of it enters generated code; and ``value`` is computed once per
    row however often ``fn`` refers to it (interpreted evaluation has no
    common-subexpression elimination)."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def _clean(raw: Column) -> Column:
    """Normalize the dateutil-isms onto the format chain: leading weekday
    names ("Tuesday, June 3, 2021"), ordinal day suffixes and the
    word "of" ("3rd of June 2021"), commas anywhere (dateutil treats them
    as whitespace), and an am/pm attached to its hour digit ("4pm" ->
    "4 pm")."""
    cleaned = F.regexp_replace(raw, _WEEKDAY_PREFIX, "")
    cleaned = F.regexp_replace(
        F.regexp_replace(cleaned, r"(?i)(\d{1,2})(st|nd|rd|th)\b", "$1"),
        r"(?i)\bof\s+",
        "",
    )
    cleaned = F.regexp_replace(cleaned, r",\s*", " ")
    cleaned = F.regexp_replace(cleaned, r"(?i)(\d)\s*(am|pm)\b", "$1 $2")
    return F.trim(F.regexp_replace(cleaned, r"\s+", " "))


def _substitute_tz(cleaned: Column) -> Column:
    """tzinfos substitution: a trailing mapped abbreviation becomes its
    numeric offset so the XXX formats pick it up.  A linear chain of
    anchored replaces: each leaves non-matching strings untouched, at
    most one can match, and the \\s anchor keeps 3-letter tails of
    4-letter abbreviations (EST in WEST/CEST/AEST, KST in AKST) from
    double-firing."""
    for k, v in TZ_ABBREV_OFFSETS.items():
        cleaned = F.regexp_replace(cleaned, rf"\s{k}$", f" {v}")
    return cleaned


def _try_formats(s: Column, formats: list[str]) -> Column:
    return F.coalesce(*[F.try_to_timestamp(s, F.lit(fmt)) for fmt in formats])


def _parse_cleaned(cleaned: Column) -> Column:
    """The 42 base formats on the cleaned string, then the 17 zone
    formats on its tz-substituted form.  The substitution runs only for
    rows no base format matched."""
    return F.coalesce(
        _try_formats(cleaned, _TS_FORMATS),
        _once(
            _substitute_tz(cleaned),
            lambda tz: _try_formats(tz, _TZ_TS_FORMATS),
        ),
    )


def lenient_timestamp(raw: Column) -> Column:
    """Best-effort string -> timestamp; null (never error) on failure.

    Two branches, tried in order:

    - **ISO** (nearly every Singer row: date-times are RFC 3339):
      ``try_cast(timestamp)`` handles the ISO-8601 family (``T``
      separator, ``Z`` / numeric offsets, date-only, fractional
      seconds).  It compiles into the projection's generated code.
    - **Format chain**, only for rows the ISO branch left null (non-ISO
      spellings, mapped zone abbreviations, unparseable text, null): the
      cleaning pass and the 59 ``try_to_timestamp`` attempts, inside
      ``transform`` lambdas (``_once``).  Spark evaluates those
      interpreted, so the chain never enters generated code, and
      ``coalesce`` reaches it only when the ISO branch is null.

    Inlined, the chain pushed the whole-stage method past Janino's 64 KB
    limit: the compile failed, and the stage fell back on every call.
    The lambda instead keeps the projection out of whole-stage codegen;
    Spark compiles it as a plain projection, whose code it splits into
    methods that fit.

    Result is truncated to millisecond precision (reference
    pa.timestamp("ms")).
    """
    # The ISO cast ALSO resolves bare zone abbreviations — to java.time
    # REGION zones with DST ("... CST" in July casts as America/Chicago
    # = -05:00 where the map's contract says -06:00), so it must be
    # suppressed whenever the raw string ends with a mapped
    # abbreviation; those rows parse through the substituted XXX chain
    # instead (review r7 finding #1; the summer-CST rows in
    # tests/test_r3_hardening.py pin this).
    iso = F.when(
        ~raw.rlike(_TZ_ABBREV_TRAILING), raw.try_cast("timestamp")
    )
    chain = _once(_clean(raw), _parse_cleaned)
    return F.date_trunc("millisecond", F.coalesce(iso, chain))


def coerce_expr(raw: Column, rf: ResolvedField) -> Column:
    """One vectorized Column implementing the reference's parse_record_value
    (reference sinks.py:72-112) for the resolved field ``rf``."""
    if rf.type_id == "null":
        # All-null column (see schema.py for the NullType->string deviation).
        return F.lit(None).cast("string").alias(rf.name)

    if rf.type_id == "string" and rf.format == "date-time":
        out = F.when(raw == "", F.lit(None)).otherwise(lenient_timestamp(raw))
    elif rf.type_id == "number":
        out = F.when(raw == "", F.lit(None)).otherwise(raw.try_cast("double"))
    elif rf.type_id == "integer":
        # Spark's string->long cast rejects "3.2" (→ null) just as Python
        # int() raises; unlike the reference, the pipe survives.
        out = F.when(raw == "", F.lit(None)).otherwise(raw.try_cast("long"))
    elif rf.type_id == "boolean":
        out = F.when(raw == "", F.lit(None)).otherwise(raw.try_cast("boolean"))
    else:
        # string / array / object / unknown: raw JSON text passthrough.
        out = raw
    return out.alias(rf.name)


def coerce_columns(fields: list[ResolvedField], source_col: str = "record") -> list[Column]:
    """The full projection: one coercion expression per declared field.

    ``source_col`` is the struct column produced by the all-string
    ``from_json`` parse.  The resulting select is the entire RECORD hot path
    of the reference (validate/coerce/append, sinks.py:162-170) as a single
    Catalyst plan.
    """
    return [coerce_expr(F.col(f"{source_col}.`{rf.name}`"), rf) for rf in fields]
