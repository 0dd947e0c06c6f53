"""Structural tests for the round-4 fuzzy / skyline / trend queries.

The oracle gate already hash-checks q139/q140/q141/q142 against DuckDB;
these tests pin the properties the SQL comparison can't state directly:
the length-band blocking loses NOTHING vs the naive all-pairs join, the
linear skyline equals the quadratic dominance definition on adversarial
tie data, and the exact-moment trend stats are partition-layout-proof.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from feature_store_test_spark.queries.fuzzy import _MAX_DIST, q139_fuzzy_name_match
from feature_store_test_spark.queries.analytics import (
    q140_pareto_orders,
    q142_group_trend,
)

SF = "/root/testdata/sf0.001"


def test_length_band_blocking_is_lossless(spark):
    """q139's banded join == the naive all-pairs levenshtein filter.

    q139 orients each pair shorter-name-first (alphabetical only on equal
    length), so compare canonical unordered pairs.
    """
    blocked = {
        (frozenset((r.name_a, r.name_b)), r.dist, r.n_affected)
        for r in q139_fuzzy_name_match(spark, SF).collect()
    }
    names = (
        spark.read.parquet(f"{SF}/part.parquet")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a = names.selectExpr("p_name AS name_a", "cnt AS cnt_a")
    b = names.selectExpr("p_name AS name_b", "cnt AS cnt_b")
    naive = {
        (frozenset((r.name_a, r.name_b)), r.dist, r.n_affected)
        for r in a.crossJoin(b)
        .where(f"name_a < name_b AND levenshtein(name_a, name_b) <= {_MAX_DIST}")
        .selectExpr(
            "name_a", "name_b",
            "levenshtein(name_a, name_b) AS dist",
            "cnt_a + cnt_b AS n_affected",
        )
        .collect()
    }
    assert blocked == naive and len(blocked) > 0


def test_skyline_keeps_tied_duplicates_and_matches_naive(spark):
    """Identical (price, qty) points are mutually non-dominated — BOTH stay;
    and the one-sort skyline equals the quadratic definition on a small
    adversarial frame (ties in each dimension, a dominated duplicate)."""
    rows = [
        # (priority, orderkey, price, qty)
        ("P", 1, 10.00, 5),
        ("P", 2, 10.00, 5),   # exact duplicate of 1 -> both on frontier
        ("P", 3, 10.00, 4),   # same price, strictly less qty -> dominated
        ("P", 4, 9.00, 5),    # cheaper at same qty -> dominates 1 and 2
        ("P", 5, 11.00, 6),   # more qty, pricier -> frontier
        ("P", 6, 11.00, 6),   # its duplicate -> frontier
    ]
    df = spark.createDataFrame(
        rows, "o_orderpriority string, o_orderkey int, o_totalprice double, total_qty long"
    )
    from feature_store_test_spark.functions import dec_ticks_sql
    from pyspark.sql import Window

    q = df.withColumn("__ticks", F.expr(dec_ticks_sql("o_totalprice", 2)))
    w_strict = (
        Window.partitionBy("o_orderpriority").orderBy("__ticks")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_incl = (
        Window.partitionBy("o_orderpriority").orderBy("__ticks")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    qty = F.col("total_qty")
    dominated = (
        F.coalesce(F.max(qty).over(w_strict), F.lit(-1)) >= qty
    ) | (F.max(qty).over(w_incl) > qty)
    got = {
        r.o_orderkey
        for r in q.withColumn("__dom", dominated).where(~F.col("__dom")).collect()
    }
    # quadratic truth
    pts = {k: (p, s) for _, k, p, s in rows}
    naive = {
        k for k, (p, s) in pts.items()
        if not any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s))
            for k2, (p2, s2) in pts.items() if k2 != k
        )
    }
    assert got == naive == {4, 5, 6}


def test_skyline_on_fixture_matches_quadratic(spark):
    """q140 on the sf0.001 fixture == the naive quadratic dominance set."""
    got = {
        (r.o_orderpriority, r.o_orderkey)
        for r in q140_pareto_orders(spark, SF).collect()
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    base = (
        orders.join(
            li.groupBy("l_orderkey").agg(
                F.sum(F.col("l_quantity").cast("long")).alias("q")
            ),
            orders["o_orderkey"] == F.col("l_orderkey"),
        )
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "q")
        .collect()
    )
    naive = set()
    by_g: dict[str, list] = {}
    for r in base:
        by_g.setdefault(r.o_orderpriority, []).append(r)
    for g, rs in by_g.items():
        for i in rs:
            if not any(
                j.o_totalprice <= i.o_totalprice
                and j.q >= i.q
                and (j.o_totalprice < i.o_totalprice or j.q > i.q)
                for j in rs
            ):
                naive.add((g, i.o_orderkey))
    assert got == naive and len(got) > 0


def test_trend_is_partition_layout_proof(spark):
    """q142's sufficient statistics are exact integers, so the double
    outputs are bit-identical under any repartitioning of the input."""
    base = {tuple(r) for r in q142_group_trend(spark, SF).collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet")
    for parts in (1, 7):
        ev.repartition(parts).createOrReplaceTempView("__trend_ev")
        # rebuild through the same code path but over the reshuffled view
        import feature_store_test_spark.queries.analytics as A

        orig = A.load_table
        try:
            A.load_table = lambda s, name, d, _o=orig: (
                s.table("__trend_ev") if name == "events" else _o(s, name, d)
            )
            got = {tuple(r) for r in q142_group_trend(spark, SF).collect()}
        finally:
            A.load_table = orig
        assert got == base


# ---------------------------------------------------------------------------
# Round-5 adversarial skew (VERDICT item): a dominant name cluster — 30% of
# all ROWS within levenshtein distance 2 of one hub name — must neither
# blow up the candidate join nor break the component loop.
#
# Candidate-count formula (documented contract of the length-band block):
# with L(k) = number of DISTINCT names of length k and d = _MAX_DIST,
#
#     candidates = sum_k [ L(k) * (L(k) - 1) / 2            (equal length)
#                        + L(k) * sum_{j=k+1..k+d} L(j) ]   (cross length)
#
# i.e. quadratic only in the per-length-band VOCABULARY, never in row
# count: the distinct-collapse absorbs row skew (900 duplicate rows of a
# hub variant are ONE vocabulary entry), and the length filter bounds
# cross-band fan-out at d+1 bands. The test asserts the realized
# pre-levenshtein candidate count equals this formula exactly, and that
# the full resolution still matches a naive union-find on the same data.
# ---------------------------------------------------------------------------
def _skewed_names() -> list[str]:
    """30% of rows in one distance-<=2 cluster around a hub name."""
    hub = "entityhub"
    variants = [hub]
    # single-char substitutions (distance 1) and one deletion (distance 1);
    # pairs of variants sit at distance <= 2 of each other via the hub
    for i in range(len(hub)):
        variants.append(hub[:i] + "z" + hub[i + 1 :])
    variants.append(hub[1:])
    rows = []
    for i in range(900):  # 30% of 3000 rows, heavily duplicated vocabulary
        rows.append(variants[i % len(variants)])
    import random

    rng = random.Random(5)
    alphabet = "abcdefghijklmnopqrstuvwxy"
    others = {
        "".join(rng.choice(alphabet) for _ in range(rng.randint(5, 15)))
        for _ in range(400)
    }
    for i, name in enumerate(sorted(others)):
        rows.extend([name] * (1 + i % 9))
    return rows


def test_er_dominant_cluster_candidates_match_band_formula(spark):
    import feature_store_test_spark.queries.fuzzy as FZ

    rows = _skewed_names()
    df = spark.createDataFrame([(n,) for n in rows], "p_name string")
    names = df.groupBy("p_name").agg(F.count(F.lit(1)).alias("cnt"))
    d = _MAX_DIST
    left = names.selectExpr(
        "p_name AS name_a",
        "length(p_name) AS len_a",
        f"explode(sequence(length(p_name), length(p_name) + {d})) AS k",
    )
    right = names.selectExpr("p_name AS name_b", "length(p_name) AS len_b")
    candidates = (
        left.join(right, left["k"] == right["len_b"])
        .where("len_a < len_b OR (len_a = len_b AND name_a < name_b)")
        .count()
    )
    from collections import Counter

    vocab = sorted(set(rows))
    L = Counter(len(n) for n in vocab)
    expected = sum(
        L[k] * (L[k] - 1) // 2 + L[k] * sum(L.get(j, 0) for j in range(k + 1, k + d + 1))
        for k in L
    )
    assert candidates == expected
    # band-bounded: far below the all-pairs quadratic of the vocabulary,
    # and UNAFFECTED by the 900-row duplication of the hub cluster
    assert candidates < len(vocab) ** 2 / 4


def test_er_dominant_cluster_resolves_like_naive_union_find(spark, tmp_path, monkeypatch):
    import feature_store_test_spark.queries.fuzzy as FZ
    from feature_store_test_spark.queries.fuzzy import q147_entity_resolution

    rows = _skewed_names()
    pdir = str(tmp_path / "part.parquet")
    spark.createDataFrame([(n,) for n in rows], "p_name string").write.parquet(pdir)
    orig = FZ.load_table
    monkeypatch.setattr(
        FZ,
        "load_table",
        lambda s, name, dd, _o=orig: (
            s.read.parquet(pdir) if name == "part" else _o(s, name, dd)
        ),
    )
    got = {
        (r.p_name, r.canonical_name, r.n_rows)
        for r in q147_entity_resolution(spark, str(tmp_path)).collect()
    }
    # naive union-find over all-pairs levenshtein on the vocabulary
    import itertools

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    from collections import Counter

    cnt = Counter(rows)
    vocab = sorted(cnt)
    parent = {n: n for n in vocab}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in itertools.combinations(vocab, 2):
        if abs(len(a) - len(b)) <= _MAX_DIST and lev(a, b) <= _MAX_DIST:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    naive = {(n, find(n), cnt[n]) for n in vocab}
    assert got == naive
    # the hub cluster really is dominant and really resolved to one entity
    hub_canon = {c for n, c, _ in naive if lev(n, "entityhub") <= 2}
    assert len(hub_canon) == 1


def test_levenshtein_unicode_unit_divergence(spark):
    """Cross-engine contract boundary, pinned: Spark levenshtein counts
    UTF-8 CODEPOINTS, DuckDB counts BYTES. They agree on ASCII (the
    fixtures and any ASCII catalog); a non-ASCII corpus needs a
    byte-encoded oracle column, not a Spark-side change — the engine's
    declared semantics are the codepoint distance."""
    import duckdb

    cases = [("café", "cafe"), ("日本語", "日本"), ("ü", "u"), ("abc", "abd")]
    spark_d = [
        spark.sql(f"SELECT levenshtein('{a}','{b}')").collect()[0][0]
        for a, b in cases
    ]
    duck_d = [
        duckdb.sql(f"SELECT levenshtein('{a}','{b}')").fetchone()[0]
        for a, b in cases
    ]
    assert spark_d == [1, 1, 1, 1]          # codepoints
    assert duck_d == [2, 3, 2, 1]           # bytes
    # ASCII agrees — the regime every oracle-checked query runs in
    assert spark_d[-1] == duck_d[-1]


def test_q139_q147_non_ascii_oracle_parity_via_codepoint_map(
    spark, tmp_path, monkeypatch
):
    """Round-6 (VERDICT item 5): the fuzzy family oracle-checked on a
    NON-ASCII catalog, not just documented. DuckDB's levenshtein counts
    BYTES; the declared engine semantics are CODEPOINTS. Edit distance
    depends only on the symbol-equality pattern, so any injective
    per-codepoint map preserves it — the oracle maps every distinct
    codepoint to one single-byte symbol, computes byte-levenshtein over
    the mapped strings (== codepoint distance over the originals), and
    the result sets must match exactly. This is the byte-encoded-oracle
    recipe a multilingual catalog deployment would add to the gate."""
    import duckdb

    import feature_store_test_spark.queries.fuzzy as FZ
    from feature_store_test_spark.queries.fuzzy import (
        _MAX_DIST,
        q139_fuzzy_name_match,
        q147_entity_resolution,
    )

    names = [
        "café", "cafe", "caffé", "münchen", "munchen", "müncheñ",
        "日本語データ", "日本語データス", "日本データ",
        "tokyo", "tokyô", "zürich", "crème brûlée", "creme brulee",
    ]
    rows = [(n,) for i, n in enumerate(names) for _ in range(1 + i % 3)]
    pdir = str(tmp_path / "part.parquet")
    spark.createDataFrame(rows, "p_name string").write.parquet(pdir)
    orig = FZ.load_table
    monkeypatch.setattr(
        FZ,
        "load_table",
        lambda s, name, dd, _o=orig: (
            s.read.parquet(pdir) if name == "part" else _o(s, name, dd)
        ),
    )

    # injective codepoint -> single-byte symbol map (printable ASCII)
    alphabet = sorted({c for n in names for c in n})
    assert len(alphabet) <= 90
    sub = {c: chr(33 + i) for i, c in enumerate(alphabet)}
    mapped = {n: "".join(sub[c] for c in n) for n in names}
    inv = {m: n for n, m in mapped.items()}
    assert len(inv) == len(set(names))  # injective on the vocabulary

    con = duckdb.connect()
    con.execute("CREATE TABLE vocab (p_name VARCHAR, mapped VARCHAR, cnt BIGINT)")
    from collections import Counter

    cnt = Counter(n for (n,) in rows)
    for n in sorted(cnt):
        con.execute("INSERT INTO vocab VALUES (?, ?, ?)", [n, mapped[n], cnt[n]])

    # --- q139: pair list with codepoint distances ---
    got_139 = {
        (r.name_a, r.name_b, r.dist, r.n_affected)
        for r in q139_fuzzy_name_match(spark, str(tmp_path)).collect()
    }
    # length() must count CODEPOINTS for the band too — the mapped column
    # gives DuckDB both codepoint lengths and codepoint distances
    want_139 = {
        (inv[a], inv[b], d, na)
        for a, b, d, na in con.execute(f"""
            SELECT a.mapped, b.mapped,
                   levenshtein(a.mapped, b.mapped), a.cnt + b.cnt
            FROM vocab a JOIN vocab b
              ON (length(a.mapped) < length(b.mapped)
                  AND length(b.mapped) <= length(a.mapped) + {_MAX_DIST})
              OR (length(a.mapped) = length(b.mapped) AND a.p_name < b.p_name)
            WHERE levenshtein(a.mapped, b.mapped) <= {_MAX_DIST}
        """).fetchall()
    }
    assert got_139 == want_139 and len(got_139) > 0
    # the non-ASCII rows really exercise the divergence: at least one pair
    # differs under BYTE distance (DuckDB raw) vs codepoint distance
    raw_byte_pairs = {
        (a, b)
        for a, b in con.execute(f"""
            SELECT a.p_name, b.p_name FROM vocab a JOIN vocab b
            ON a.p_name < b.p_name
            WHERE levenshtein(a.p_name, b.p_name) <= {_MAX_DIST}
              AND abs(length(a.p_name) - length(b.p_name)) <= {_MAX_DIST}
        """).fetchall()
    }
    codepoint_pairs = {tuple(sorted((x, y))) for x, y, _, _ in got_139}
    assert codepoint_pairs - raw_byte_pairs, "fixture must expose the unit divergence"

    # --- q147: canonical entities over the same edge definition ---
    got_147 = {
        (r.p_name, r.canonical_name, r.n_rows)
        for r in q147_entity_resolution(spark, str(tmp_path)).collect()
    }
    # oracle: union-find over the mapped-levenshtein edges
    parent = {n: n for n in sorted(cnt)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _, _ in sorted(want_139):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_147 = {(n, find(n), cnt[n]) for n in cnt}
    assert got_147 == want_147
