"""Record linkage / entity resolution over the ``customer`` dimension:
blocked edit-distance matching — the dedup operator for STRUCTURED
records (the documents table's near-dup engines cover free text).

Classic two-stage ER shape, expressed relationally:

1. **Blocking** — candidate pairs come only from an equi join on the
   blocking key (nation, market segment), never a cross join.  The
   quadratic cost is then per-block, and a cheap in-plan guard
   (``assert_true`` on block cardinality, the dedup-module convention,
   dedup.py) fails loudly if a block exceeds the documented bound
   instead of silently exploding at scale — real deployments tighten
   the key (add name prefixes / sorted-neighborhood windows) rather
   than raise the bound.
2. **Match scoring** — ``levenshtein`` is a JVM built-in, so the
   pairwise filter is codegen inside the join stage; no UDF, no
   materialized all-pairs relation.

Output: linked pairs (a < b) within ``LINK_MAX_DIST`` edits, with the
distance — the input a merge/survivorship step consumes.  DuckDB ships
the same Wagner–Fischer ``levenshtein``, so the oracle replays the
relation exactly.

The reference (/root/reference/ncd/) has no matching surface; this
extends the build brief's deduplication band to structured entities.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from national_caseload_data_ingest_spark.operators.registry import (
    fan_out,
    load_tables,
    query,
)

LINK_MAX_DIST = 2  # max edits for a candidate link
MAX_BLOCK = 5000  # in-plan guard: largest tolerable blocking-key group


def link_records(
    records: DataFrame,
    key_col: str,
    name_col: str,
    block_cols: list[str],
    max_dist: int = LINK_MAX_DIST,
    max_block: int = MAX_BLOCK,
) -> DataFrame:
    """Blocked edit-distance linkage: equi join on ``block_cols``, keep
    ``a < b`` pairs within ``max_dist`` edits of ``name_col``.

    The guard column piggybacks on the block join: every block's size is
    window-counted and asserted ≤ ``max_block`` inside the plan, so a
    skewed blocking key aborts the job with a clear message rather than
    producing a silent quadratic blow-up."""
    from pyspark.sql import Window

    occupancy = F.count(F.lit(1)).over(Window.partitionBy(*block_cols))
    check = F.assert_true(
        occupancy <= F.lit(max_block),
        F.concat(
            F.lit("linkage block holds "),
            occupancy.cast("string"),
            F.lit(
                f" rows (> {max_block}): the per-block self-join is "
                "quadratic. Tighten the blocking key (add name prefix / "
                "sorted-neighborhood window) or raise max_block explicitly."
            ),
        ),
    )
    # Thread the assertion through the join key so column pruning can't
    # drop it (assert_true yields NULL when the bound holds, so the
    # when() always takes the key) — same convention as the SimHash
    # bucket guard, dedup.py.
    a = records.select(
        *[F.col(c) for c in block_cols],
        F.when(check.isNull(), F.col(key_col)).alias("key_a"),
        F.col(name_col).alias("name_a"),
    )
    b = records.select(
        *[F.col(c) for c in block_cols],
        F.col(key_col).alias("key_b"),
        F.col(name_col).alias("name_b"),
    )

    # Broadcast the guarded side and fan the PROBE side out before the
    # join (r14, guide §2.5/§3.1): the blocking key has few distinct
    # values (125 nation × segment groups here), so a shuffle block
    # join lands its quadratic per-pair levenshtein work on at most
    # that many tasks — and AQE coalesces the tiny local exchange to
    # ONE, serializing all ~900k pair scores (measured 4-8 s at sf0.1
    # vs ~1 s fanned out).  With the build side broadcast, the join and
    # the scoring inherit the probe side's round-robin partitioning, so
    # pair scoring spreads across the cluster and a hot block cannot
    # serialize it.  Not a local-only trick: the in-plan guard bounds
    # every block at ``max_block`` rows, so the broadcast side is
    # bounded at blocks × max_block skinny rows at any supported scale.
    # (Fanning out the JOINED pair relation instead was tried and
    # rejected: the score filter pushes through the round-robin
    # exchange and the score is then evaluated twice, once per side of
    # it — the guide §4.4 duplication — with the below-exchange copy
    # back on the coalesced single task.)
    return (
        F.broadcast(a).join(fan_out(b), block_cols)
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
        .select(
            "key_a", "key_b", *block_cols, "name_a", "name_b", "dist"
        )
    )


@query(
    "link_customer_records",
    oracle=f"""
    SELECT a.c_custkey AS key_a,
           b.c_custkey AS key_b,
           a.c_nationkey,
           a.c_mktsegment,
           a.c_name AS name_a,
           b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= {LINK_MAX_DIST}
    """,
)
def link_customer_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probable duplicate customer records: blocked on (nation, market
    segment), linked at ≤ {LINK_MAX_DIST} name edits.  See module
    docstring for the blocking/guard plan shape."""
    c = load_tables(spark, sf_dir, "customer")["customer"]
    return link_records(
        c,
        key_col="c_custkey",
        name_col="c_name",
        block_cols=["c_nationkey", "c_mktsegment"],
    )


SNB_WINDOW = 4  # sorted-neighborhood width: pair ranks within w-1 of each other


def link_records_snb(
    records: DataFrame,
    key_col: str,
    name_col: str,
    sort_col: str | None = None,
    window: int = SNB_WINDOW,
    max_dist: int = LINK_MAX_DIST,
) -> DataFrame:
    """Sorted-neighborhood linkage (Hernández & Stolfo, SIGMOD'95) — the
    scale remedy the blocked join's guard message points at: candidate
    volume is EXACTLY n·(window−1), whatever the key distribution, so
    there is no block-skew failure mode at all.

    Spark-first shape, no single-partition window anywhere:

    1. **Global rank without a global window** — ``repartitionByRange``
       on (sort, key) makes partitions contiguous ranges of the sort
       order; a row_number window PARTITIONED BY the range-partition id
       ranks locally (distributed), and a broadcast join against the
       tiny per-partition count relation adds the offsets.  The result
       equals ``ROW_NUMBER() OVER (ORDER BY sort, key)`` exactly
       (the composite key is unique, so the total order is unambiguous)
       — which is what keeps the operator oracle-checkable.
    2. **Neighbor pairing as one equi join** — each row explodes into
       ``window−1`` probe rows keyed by ``rank − i``; one integer-keyed
       join attaches each row to its following neighbors, crossing any
       partition boundary for free (no boundary-replication machinery).
    3. The edit-distance filter is the same codegen ``levenshtein`` as
       the blocked path.

    Trade vs blocking: SNB only compares records whose SORT keys land
    near each other — a typo in the first character defeats it (the
    classic fix is multi-pass SNB over different sort keys, which is
    just a union of this operator over each key).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    sort_col = sort_col or name_col
    n_part = max(records.sparkSession.sparkContext.defaultParallelism, 2)
    # persist() is load-bearing, not a cache hint: the count/offset
    # relation and the ranked relation (used twice more below) are
    # separate branches of this lineage, and repartitionByRange chooses
    # its boundaries by SAMPLING — an independent recomputation may pick
    # different boundaries, and offsets computed against one boundary
    # set applied to row_numbers from another yield duplicate/gapped
    # ranks.  Materializing the range-partitioned relation once pins a
    # single boundary set for every consumer.  (Plain persist, the
    # dedup-module convention — reclamation to the ContextCleaner.)
    ranged = (
        records.select(
            F.col(key_col).alias("key"),
            F.col(name_col).alias("name"),
            F.col(sort_col).alias("__sort"),
        )
        .repartitionByRange(n_part, F.col("__sort"), F.col("key"))
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    offsets = counts.select(
        "__pid",
        (
            F.sum("__n").over(
                Window.orderBy("__pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
        ).alias("__offset"),
    ).fillna(0, subset=["__offset"])
    local = Window.partitionBy("__pid").orderBy("__sort", "key")
    ranked = (
        ranged.withColumn("__local", F.row_number().over(local))
        .join(F.broadcast(offsets), "__pid")
        .select(
            "key",
            "name",
            (F.col("__offset") + F.col("__local")).alias("rank"),
        )
    )
    probes = ranked.select(
        F.explode(
            F.array(*[F.col("rank") - F.lit(i) for i in range(1, window)])
        ).alias("anchor"),
        F.col("key").alias("key_b"),
        F.col("name").alias("name_b"),
        F.col("rank").alias("rank_b"),
    )
    return (
        ranked.join(probes, F.col("rank") == F.col("anchor"))
        .withColumn("dist", F.levenshtein("name", "name_b"))
        .filter(F.col("dist") <= max_dist)
        .select(
            F.col("key").alias("key_a"),
            "key_b",
            F.col("name").alias("name_a"),
            "name_b",
            "dist",
            (F.col("rank_b") - F.col("rank")).cast("int").alias("rank_gap"),
        )
    )


@query(
    "link_customer_records_snb",
    oracle=f"""
    WITH ranked AS (
        SELECT c_custkey AS key, c_name AS name,
               ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) AS rank
        FROM customer
    )
    SELECT a.key AS key_a, b.key AS key_b,
           a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist,
           CAST(b.rank - a.rank AS INTEGER) AS rank_gap
    FROM ranked a JOIN ranked b
      ON b.rank - a.rank BETWEEN 1 AND {SNB_WINDOW - 1}
    WHERE levenshtein(a.name, b.name) <= {LINK_MAX_DIST}
    """,
)
def link_customer_records_snb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood linkage of customers on the name sort order —
    the skew-immune twin of ``link_customer_records`` (see
    :func:`link_records_snb` for the rank/pairing plan)."""
    c = load_tables(spark, sf_dir, "customer")["customer"]
    return link_records_snb(c, key_col="c_custkey", name_col="c_name")


def link_records_snb_multipass(
    records: DataFrame,
    key_col: str,
    name_col: str,
    sort_exprs: list,
    window: int = SNB_WINDOW,
    max_dist: int = LINK_MAX_DIST,
) -> DataFrame:
    """Multi-pass sorted-neighborhood (the standard fix for single-sort
    blindness): one SNB pass per sort expression, results unioned and
    de-duplicated on the unordered pair.

    A first-character typo defeats a single name-sorted pass — the
    record sorts far from its twin — but survives a second pass sorted
    by, e.g., the REVERSED name (or phonetic key, zip, birth year...).
    Cost is additive: p passes = p sorted scans, candidates ≤ p·n·(w−1).
    The pair key is normalized to (min, max) so the same match found by
    two passes counts once; ``rank_gap`` is dropped (it is per-pass
    bookkeeping, meaningless after the union)."""
    outs = []
    for i, expr in enumerate(sort_exprs):
        tagged = records.withColumn(f"__sort_{i}", expr)
        outs.append(
            link_records_snb(
                tagged,
                key_col=key_col,
                name_col=name_col,
                sort_col=f"__sort_{i}",
                window=window,
                max_dist=max_dist,
            ).select(
                F.least("key_a", "key_b").alias("key_a"),
                F.greatest("key_a", "key_b").alias("key_b"),
                "dist",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.groupBy("key_a", "key_b").agg(F.min("dist").alias("dist"))


# ---------------------------------------------------------------------------
# Jaro–Winkler linkage
# ---------------------------------------------------------------------------

JW_MIN_SIM = 0.97  # minimum Jaro-Winkler similarity for a link
JW_PREFIX_SCALE = 0.1  # Winkler prefix bonus per shared-prefix char (max 4)
JW_BOOST_THRESHOLD = 0.7  # apply the prefix bonus only above this Jaro score


def jaro_winkler(s1: str, s2: str) -> float:
    """Standard Jaro–Winkler similarity (Winkler 1990): the Jaro score
    boosted by up to 4 chars of shared prefix when above the boost
    threshold.  Bit-for-bit identical to DuckDB's
    ``jaro_winkler_similarity`` (verified over the customer corpus and
    random strings in tests), which is what makes the catalog query
    hash-checkable."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if not l1 or not l2:
        return 0.0
    md = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - md), min(l2, i + md + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if not matches:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (matches / l1 + matches / l2 + (matches - t) / matches) / 3
    if j > JW_BOOST_THRESHOLD:
        pl = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            pl += 1
        j = j + pl * JW_PREFIX_SCALE * (1 - j)
    return j


@query(
    "link_customer_records_jw",
    oracle=f"""
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           a.c_nationkey, a.c_mktsegment,
           ROUND(jaro_winkler_similarity(a.c_name, b.c_name), 6) AS sim
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.c_custkey < b.c_custkey
    WHERE jaro_winkler_similarity(a.c_name, b.c_name) >= {JW_MIN_SIM}
    """,
)
def link_customer_records_jw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro–Winkler record linkage over the same (nation, market
    segment) blocks as the edit-distance path — the string-similarity
    measure census-style ER actually uses (typo-tolerant, prefix-
    weighted), at >= {JW_MIN_SIM} similarity.

    Spark has no JW builtin, so the pairwise score crosses to Python —
    but only AFTER blocking: the vectorized pandas UDF sees the blocked
    candidate relation (guarded by the same in-plan block-size assert as
    ``link_customer_records``), never an all-pairs one.  Per-pair cost
    is O(len^2 / 64) bitless Jaro; at 100 TB the block join shuffles on
    the blocking key and the UDF stage stays embarrassingly parallel.
    DuckDB ships the identical Winkler definition, so the oracle replays
    the relation exactly (sim rounded to 6dp on both sides, the hash
    normalization width)."""
    from pyspark.sql import Window  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    c = load_tables(spark, sf_dir, "customer")["customer"]
    occupancy = F.count(F.lit(1)).over(
        Window.partitionBy("c_nationkey", "c_mktsegment")
    )
    check = F.assert_true(
        occupancy <= F.lit(MAX_BLOCK),
        F.concat(
            F.lit("linkage block over budget ("),
            occupancy.cast("string"),
            F.lit(f" > {MAX_BLOCK}): tighten the blocking key"),
        ),
    )
    # Thread the assertion through the join key (the link_records
    # convention above) so column pruning can't drop it.
    a = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.when(check.isNull(), F.col("c_custkey")).alias("key_a"),
        F.col("c_name").alias("name_a"),
    )
    b = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("c_custkey").alias("key_b"),
        F.col("c_name").alias("name_b"),
    )

    @pandas_udf("double")
    def jw_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
        return pd.Series(
            [jaro_winkler(x, y) for x, y in zip(s1, s2)], dtype="float64"
        )

    # Same broadcast-build + fanned-probe shape as link_records (r14):
    # the per-pair Python JW kernel otherwise runs on the one task AQE
    # coalesces the tiny block join into — measured 15.7 s single-task
    # vs ~1.5 s at sf0.1 (~900k candidate pairs).  The UDF is marked
    # non-deterministic so the optimizer cannot duplicate it below the
    # similarity filter (guide §4.4) — it is pure, but one evaluation
    # per pair is the point.
    return (
        F.broadcast(a).join(
            fan_out(b), ["c_nationkey", "c_mktsegment"]
        )
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("__sim", jw_udf.asNondeterministic()("name_a", "name_b"))
        .filter(F.col("__sim") >= JW_MIN_SIM)
        .select(
            "key_a",
            "key_b",
            "c_nationkey",
            "c_mktsegment",
            F.round("__sim", 6).alias("sim"),
        )
    )


# ---------------------------------------------------------------------------
# golden-record survivorship (the ER end-game)
# ---------------------------------------------------------------------------


@query(
    "golden_customer_records",
    oracle=f"""
    WITH RECURSIVE
    pairs AS (
        SELECT a.c_custkey AS key_a, b.c_custkey AS key_b
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= {LINK_MAX_DIST}
    ),
    edges AS (SELECT key_a AS src, key_b AS dst FROM pairs
              UNION ALL SELECT key_b, key_a FROM pairs),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
    ),
    cc AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    members AS (
        SELECT c.*, COALESCE(cc.cluster_id, c.c_custkey) AS cluster_id
        FROM customer c LEFT JOIN cc ON c.c_custkey = cc.node
    ),
    ranked AS (
        SELECT m.*,
               ROW_NUMBER() OVER (
                   PARTITION BY cluster_id
                   ORDER BY c_acctbal DESC, c_custkey ASC) AS rk,
               COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
               SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                   OVER (PARTITION BY cluster_id) AS bal_sum,
               MIN(c_custkey) OVER (PARTITION BY cluster_id) AS golden_key
        FROM members m
    )
    SELECT cluster_id,
           CAST(n_members AS INTEGER) AS n_members,
           golden_key,
           c_name AS golden_name,
           c_nationkey,
           c_mktsegment,
           CAST(bal_sum AS DOUBLE) AS total_acctbal
    FROM ranked WHERE rk = 1
    """,
)
def golden_customer_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record construction — the survivorship stage that turns
    linkage PAIRS into one merged entity per duplicate cluster:

    1. blocked edit-distance pairs (the ``link_customer_records``
       relation, same in-plan block guard);
    2. connected components over the pairs (large-star/small-star,
       O(log n) rounds — curation.py), singletons kept as their own
       trivial cluster via a left join + coalesce;
    3. survivorship per cluster: canonical key = min member key, name
       taken from the RICHEST member (max account balance, ties to the
       smallest key — deterministic), exact-decimal balance rollup.

    Every shuffle is keyed by customer or cluster id; the survivorship
    window partitions by cluster (bounded by the largest duplicate
    cluster, 152 members at sf0.1 — never global).  The oracle replays
    the identical pipeline: recursive-CTE closure for the components,
    the same two-key window pick.  Blocking guarantees nation/segment
    are constant within a cluster, so the golden row's attributes are
    well-defined."""
    from pyspark.sql import Window  # noqa: PLC0415

    from national_caseload_data_ingest_spark.operators.curation import (  # noqa: PLC0415
        connected_components,
    )

    c = load_tables(spark, sf_dir, "customer")["customer"]
    pairs = link_records(
        c,
        key_col="c_custkey",
        name_col="c_name",
        block_cols=["c_nationkey", "c_mktsegment"],
    ).select(F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b"))
    cc = connected_components(pairs)
    members = c.join(
        cc, c.c_custkey == cc.doc_id, "left"
    ).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        "c_acctbal",
        F.coalesce("cluster_id", "c_custkey").alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id")
    pick = w.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    ranked = members.select(
        "cluster_id",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.row_number().over(pick).alias("rk"),
        F.count(F.lit(1)).over(w).alias("n_members"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).over(w).alias("bal_sum"),
        F.min("c_custkey").over(w).alias("golden_key"),
    )
    return ranked.where(F.col("rk") == 1).select(
        "cluster_id",
        F.col("n_members").cast("int").alias("n_members"),
        "golden_key",
        F.col("c_name").alias("golden_name"),
        "c_nationkey",
        "c_mktsegment",
        F.col("bal_sum").cast("double").alias("total_acctbal"),
    )


# -- American Soundex (shared SQL expression, both engines) -------------------

def soundex_sql(col: str) -> str:
    """American Soundex (the NARA rules) as ONE SQL expression string
    valid in BOTH Spark SQL and DuckDB — the zorder convention: sharing
    the generated text means the oracle runs the identical algebra on
    an independent engine.  Steps: keep the first letter; drop h/w
    (codes merge ACROSS them); map consonants to digit classes; collapse
    adjacent equal digits (vowels still present as separators); drop
    vowels; drop the leading digit when the first letter is a consonant
    (its own code, already merged); take 3 digits, zero-padded."""
    s = f"lower({col})"
    first = f"upper(substr({s}, 1, 1))"
    x = f"replace(replace({s}, 'h', ''), 'w', '')"
    x = f"translate({x}, 'bfpvcgjkqsxzdtlmnr', '111122222222334556')"
    for _ in range(5):  # runs of up to 2^5 equal digits collapse
        for d in "123456":
            x = f"replace({x}, '{d}{d}', '{d}')"
    x = (f"translate({x}, 'aeiouy', '')")
    # first letter consonant (not vowel, not h/w): its own leading code
    # was emitted and merged; strip it
    x = (
        f"CASE WHEN substr({s}, 1, 1) IN "
        "('a','e','i','o','u','y','h','w') "
        f"THEN {x} ELSE substr({x}, 2) END"
    )
    return f"({first} || rpad(substr({x}, 1, 3), 3, '0'))"


def soundex_py(name: str) -> str:
    """Independent pure-Python reference of the same NARA rules (for
    the test pins — shares no code with the SQL generator)."""
    s = name.lower()
    first = s[0].upper()
    codes = {**dict.fromkeys("bfpv", "1"), **dict.fromkeys("cgjkqsxz", "2"),
             **dict.fromkeys("dt", "3"), "l": "4",
             **dict.fromkeys("mn", "5"), "r": "6"}
    out = []
    prev = codes.get(s[0], "")
    for ch in s[1:]:
        if ch in "hw":
            continue  # code merging crosses h/w
        code = codes.get(ch, "")
        if code and code != prev:
            out.append(code)
        prev = code  # vowels reset prev to '' (separator)
    return first + ("".join(out) + "000")[:3]


@query(
    "soundex_part_blocks",
    oracle=f"""
    WITH words AS (
        SELECT DISTINCT string_split(p_name, ' ')[1] AS w FROM part
    ),
    coded AS (
        SELECT w, {soundex_sql('w')} AS sx FROM words
    )
    SELECT sx AS soundex,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           MIN(w) AS example_word,
           MAX(w) AS example_word_2
    FROM coded GROUP BY sx
    """,
)
def soundex_part_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking for entity resolution: American Soundex over
    the distinct first words of part names — the classic ER blocking
    key that groups spelling variants (the linkage band's third
    blocking strategy beside equi-blocks and sorted neighborhoods).
    The expression is generated ONCE and executed by BOTH engines
    (zorder convention), and its correctness is pinned separately by
    the published NARA examples against an independent Python
    reference.  One distinct + one small aggregate."""
    p = load_tables(spark, sf_dir, "part")["part"]
    words = p.select(
        F.split(F.col("p_name"), " ").getItem(0).alias("w")
    ).distinct()
    coded = words.select("w", F.expr(soundex_sql("w")).alias("sx"))
    return coded.groupBy(F.col("sx").alias("soundex")).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.min("w").alias("example_word"),
        F.max("w").alias("example_word_2"),
    )
