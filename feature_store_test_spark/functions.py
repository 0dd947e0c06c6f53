"""Shared column-expression helpers (the engine's scalar-function layer).

Everything here builds lazy ``Column`` expressions (or the SQL strings
they parse from) — JVM-side, whole-stage-codegen'd, never Python
row-at-a-time. The helpers encode the cross-engine float discipline that
makes every query hash-match its DuckDB oracle (see oracle.py):

* money/quantity sums go through ``decimal(18,s)`` integer arithmetic —
  bit-identical regardless of partial-aggregation order. This module is
  the only one that knows that format (``dec_ticks_sql``,
  ``tick_sums_sql``, ``tick_total_sql`` and ``dec_sum`` built from them);
* hash bucketing uses md5 hex prefixes compared lexicographically —
  identical in any engine, deterministic across re-runs;
* no helper ever rounds a value that can terminate on a rounding boundary.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def dec_ticks_sql(x: str, scale: int) -> str:
    """Exact integer ticks of ``CAST((x) AS DECIMAL(18,scale))`` as a BIGINT
    SQL expression over the SQL expression string ``x``.

    DuckDB's double→decimal cast goes through the double's SHORTEST
    DECIMAL REPRESENTATION and rounds half away from zero (double 2.675,
    binary value 2.67499999999999982, casts to 2.68), which is exactly
    Spark's ``round(double, s)``; the outer ``rint`` snaps the re-widened
    double back to the exact integer tick. That repr round costs a
    BigDecimal per row, and it can only disagree with the cheap
    ``rint(x * 10^s)`` when the scaled value sits within double noise of a
    .5 boundary, so only those rows take it. Bit parity with the DuckDB
    cast over adversarial .xx5/.x05 ties of both signs is pinned by
    ``tests/test_functions.py``.
    """
    p = f"{float(10 ** scale)!r}D"
    w = f"(({x}) * {p})"
    near_half = f"abs({w} - FLOOR({w}) - 0.5D) < 1.0E-6D"
    return (
        f"CAST(CASE WHEN {near_half} THEN rint(round(({x}), {scale}) * {p}) "
        f"ELSE rint({w}) END AS BIGINT)"
    )


def tick_sums_sql(ticks: str) -> tuple[str, str]:
    """The (hi, lo) partial-sum SQL aggregates of a BIGINT tick expression.

    Invariant: ``hi = ticks >> 22`` (arithmetic shift, so floor division
    for negatives too) and ``lo = ticks & (2^22 - 1)`` in ``[0, 2^22)``
    satisfy ``ticks == hi * 2^22 + lo`` exactly, so ``tick_total_sql``
    over the two sums is the exact tick total in any summation order.
    Both sums are plain long sums that stay compact in hash-agg codegen (a
    DECIMAL(20,0) accumulator exceeds Spark's 18-digit compact decimal
    and pays a heap BigDecimal per row). They fit a long while
    ``rows * |ticks| < 2^85``.

    Decision: ``ticks`` is meant to be a column that a projection below
    the aggregate computed ONCE. Hash-agg codegen shares no
    subexpressions across aggregate functions, so passing the
    ``dec_ticks_sql`` expression itself (what ``dec_sum`` does)
    evaluates it in both the hi and the lo update paths. Queries that sum
    several money columns (``engineer_features``, q01, q41) pre-project
    their ticks and call this and ``tick_total_sql`` directly.
    """
    return f"SUM(shiftright({ticks}, 22))", f"SUM(({ticks} & CAST(4194303 AS BIGINT)))"


def tick_total_sql(sum_hi: str, sum_lo: str, scale: int) -> str:
    """Exact DOUBLE value of the hi/lo tick sums (``tick_sums_sql``) at
    ``scale``: recombined in DECIMAL(38,0), divided exactly by
    ``10^scale`` and cast once, so the result is bit-identical to
    ``CAST(SUM(CAST(x AS DECIMAL(18,scale))) AS DOUBLE)``."""
    if scale > 6:
        # the exact division lands on decimal(38,6) after Spark's
        # precision-loss adjustment; >6 fractional digits would be rounded
        raise ValueError(f"exact money sums support scale <= 6, got {scale}")
    return (
        f"CAST(((CAST({sum_hi} AS DECIMAL(38,0)) * CAST(4194304 AS DECIMAL(8,0)) "
        f"+ CAST({sum_lo} AS DECIMAL(38,0))) / CAST({10 ** scale} AS DECIMAL(7,0))) "
        f"AS DOUBLE)"
    )


def dec_sum(x: str, scale: int = 2, out: str | None = None) -> F.Column:
    """Exact money sum of the SQL expression string ``x``, value-identical
    to ``CAST(SUM(CAST(x AS DECIMAL(18,scale))) AS DOUBLE)`` (what the
    DuckDB oracles run) in any partition order: decimal integer
    arithmetic is summation-order-free, where a double sum differs in its
    low bits between engines and between partition orders.

    Built as ONE ``F.expr`` parse: a py4j round-trip per Column call made
    the Column-API form of the same tree pure plan-construction chatter.
    """
    c = F.expr(tick_total_sql(*tick_sums_sql(dec_ticks_sql(x, scale)), scale))
    return c.alias(out) if out else c


def revenue() -> F.Column:
    """TPC-H per-line revenue: ``l_extendedprice * (1 - l_discount)``."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def json_number_field(col: str | F.Column, key: str) -> F.Column:
    """Numeric field from a FLAT one-level JSON object column, codegen-only.

    ``get_json_object`` spins up a Jackson parser per row (~2 us/row —
    measured 0.19s over 100k rows, ~60% of q16's whole window at sf0.1).
    For the event-props contract — a flat object whose values are numbers,
    e.g. ``{"k": 76}`` — the field is recoverable with three string
    intrinsics that stay inside whole-stage codegen:

        locate('"<key>":', s)             -> 0 when the key is absent
        substring_index(.., ',', 1)       -> cut at the next field
        substring_index(.., '}', 1)       -> cut at end-of-object
        try_cast(.. AS DOUBLE)            -> NULL for non-numeric values
                                             (the cast trims whitespace, so
                                             '"k":76', '"k": 76' and
                                             '"k":   76' all parse)

    Serializations with whitespace BEFORE the colon ('"k" : 76') miss the
    fast needle and fall through to a regexp_extract(':\\s*') fallback —
    when() short-circuits per row in codegen, so canonical rows never pay
    the regex and a present key is never misread as absent.

    Semantics match ``get_json_object(col, '$.<key>').try_cast('double')``
    on any flat object with numeric values (missing key -> NULL,
    non-numeric value -> NULL; the plain ``cast`` form would RAISE under
    ANSI on a non-numeric value — pinned in tests/test_functions.py);
    it is NOT a general JSON parser — a NESTED object whose inner key
    matches reads the inner field (string values cannot fool it: a
    quote inside a valid JSON string is escaped, and the backslash
    breaks the needle — both pinned in tests/test_functions.py), and
    callers on nested data must use ``get_json_object``/``variant_get``. The oracle
    gate cross-checks every consumer against DuckDB's regexp/JSON
    extraction per run, so a contract violation surfaces as a hash
    mismatch, not silent corruption.
    """
    import re as _re

    c = F.col(col) if isinstance(col, str) else col
    # Fast path: locate the '"key":' needle (no trailing space — covers
    # both the fixtures' '"k": 76' and minified '"k":76'; the string->
    # double cast trims surrounding whitespace, so any run of spaces
    # after the colon parses identically). Rows where the fast needle
    # misses (e.g. the rare-but-valid '"k" : 76' with space BEFORE the
    # colon) fall back to one regexp_extract — when() short-circuits per
    # row in codegen, so the regex never runs on canonical rows and a
    # present key can never be confused with an absent one.
    needle = f'"{key}":'
    pos = F.locate(needle, c)
    tail = F.substring(c, pos + len(needle), F.length(c))
    body = F.substring_index(F.substring_index(tail, ",", 1), "}", 1)
    slow = F.regexp_extract(c, f'"{_re.escape(key)}"\\s*:\\s*([^,}}]*)', 1)
    return F.when(pos > 0, body.try_cast("double")).otherwise(
        slow.try_cast("double")
    )


def md5_bucket(key: str | F.Column, n_hex: int = 2) -> F.Column:
    """Deterministic hash bucket: first ``n_hex`` hex chars of md5(key).

    Compared lexicographically against hex-string cutoffs ('cd' ≈ 205/256)
    for reproducible splits/sampling — a pure function of the key, so
    membership never reshuffles as data grows and any engine agrees.
    """
    c = F.col(key) if isinstance(key, str) else key
    return F.substring(F.md5(c.cast("string")), 1, n_hex)
