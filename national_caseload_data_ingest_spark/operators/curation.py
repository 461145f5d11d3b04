"""Corpus-curation operators beyond pairwise dedup: near-dup cluster
formation (connected components), eval-set decontamination, deterministic
stratified sampling, and token-budget sharding.

These are the remaining stages a large-scale training-data build runs
after the :mod:`.dedup` operators produce pair/score relations:

- **Clustering** turns near-dup PAIRS into GROUPS so one canonical doc per
  group survives (pairwise drop-the-larger-id, as in
  ``training_data_pipeline``, under-deletes when duplicates chain:
  A≈B, B≈C but A≉C keeps A and C).  Components are computed by iterative
  min-label propagation — each round is two hash joins + a groupBy, all
  keyed by doc id, so every round is shuffle-bounded by the edge relation,
  never O(n²).  Convergence takes graph-diameter rounds; near-dup graphs
  are shallow (dozens of docs per cluster), and the loop hard-stops with
  guidance at ``max_iter`` rather than spinning on an adversarial chain.
  (At extreme diameters the alternating large-star/small-star variant
  converges in O(log n) rounds — same join shapes, noted for the 100 TB
  runbook.)  The DuckDB oracle is a recursive CTE computing min reachable
  id per node — genuinely SQL-expressible, so this gets a full hash check.
- **Decontamination** removes training docs that share word n-grams with
  an evaluation set — the standard leakage guard before pre-training.  The
  overlap join is postings ⋈ eval-grams on the gram string: cost scales
  with posting volume, the eval side is tiny and broadcast.
- **Deterministic sampling** keeps a per-language fraction by comparing a
  content hash prefix against a rate threshold — reproducible across
  engines and runs (no RNG), stable under re-partitioning, and exactly
  expressible in SQL (md5 hex-string compare), unlike ``rand()``-based
  sampling.
- **Token-budget sharding** assigns docs to fixed-token-budget output
  shards per language via a running-sum window — the write-side layout
  step that turns a curated corpus into training-ready shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from national_caseload_data_ingest_spark.operators.dedup import (
    neardup_pairs,
    word_ngram_postings,
    ws_token_count,
)
from national_caseload_data_ingest_spark.operators.registry import load_tables, query

# neardup_clusters uses a lower threshold than the pairwise queries (0.2)
# so the test corpus produces multi-node, multi-hop components (37 pairs,
# max degree 3 at sf0.01) — the transitivity the operator exists for.
CLUSTER_THRESHOLD = 0.1
CC_MAX_ITER = 15

# Decontamination n-gram order.  Real pipelines use 8-13-gram overlap; the
# synthetic docs are 10-99 tokens, so trigrams give a comparable
# grams-per-doc profile at test scale.  The operator is order-agnostic.
DECONTAM_NGRAM = 3
EVAL_MODULUS = 97  # doc_id % 97 == 0 → held-out eval set (~1% of corpus)

# Deterministic per-language sampling rates, applied by md5-prefix
# threshold.  Rates are exact multiples of 1/16^2 so the hex threshold is
# a clean 8-hex-digit string and engine-independent.
SAMPLE_RATES = {"en": "80000000", "fr": "40000000"}  # 0.5, 0.25
SAMPLE_DEFAULT_RATE = "20000000"  # 0.125 for every other language

TOKENS_PER_SHARD = 4096


# training_corpus_build: drop a doc when more than this fraction of its
# distinct trigrams appear in the eval set.
CONTAM_FRAC = 0.2


def _ngram_list_sql(n: int) -> str:
    """DuckDB expression building the distinct word-n-gram list from a
    token array ``t`` (with ``lt`` = whole lowercased text as the
    short-doc fallback) — GENERATED from ``n`` so the oracle can never
    desync from the generic Spark kernel when DECONTAM_NGRAM changes."""
    concat = " || ' ' || ".join(
        "t[i]" if j == 0 else f"t[i+{j}]" for j in range(n)
    )
    return (
        f"list_distinct(CASE WHEN len(t) >= {n} "
        f"THEN list_transform(range(1, len(t) - {n - 2}), i -> {concat}) "
        f"ELSE [lt] END)"
    )


def connected_components(
    edges: DataFrame, max_iter: int = CC_MAX_ITER
) -> DataFrame:
    """Undirected connected components over an edge relation
    ``(doc_a, doc_b)`` → ``(doc_id, cluster_id)`` where ``cluster_id`` is
    the minimum doc id reachable from ``doc_id`` (nodes appearing in at
    least one edge only — singletons are their own trivial cluster and are
    left out, matching the recursive-CTE oracle).

    Alternating **large-star / small-star** (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round halves chain
    depth, so convergence is O(log n) ROUNDS INDEPENDENT OF GRAPH
    DIAMETER — the property naive min-label propagation lacks (it needs
    diameter rounds, and real near-dup graphs grow long chains with the
    corpus: the sf0.1 documents corpus already exceeds 15 hops).  One
    round = two (groupBy min + hash join) pairs, all shuffles keyed by
    doc id, no driver-side state.  ``localCheckpoint`` truncates the
    growing lineage each round (at 100 TB use ``checkpoint`` against
    reliable storage instead).

    * large-star: every node ``u`` links each LARGER neighbor to the min
      of its neighborhood (incl. itself) — long chains fold toward local
      minima.
    * small-star: on the larger→smaller edge orientation, every node and
      its smaller neighbors link to the neighborhood min — stars flatten.

    Convergence is detected STRUCTURALLY (not by fixpoint hashing): the
    edge set is a min-rooted star forest iff every child has exactly one
    parent and no parent is itself a child.  Both checks are cheap
    aggregates.  Raises if not converged after ``max_iter`` rounds."""
    e = (
        edges.select(
            F.greatest("doc_a", "doc_b").alias("hi"),
            F.least("doc_a", "doc_b").alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # large-star over the symmetric neighborhood: group u, m = min(Γ(u) ∪ {u});
        # emit (v, m) for v ∈ Γ(u), v > u.  m ≤ u < v keeps edges canonical.
        sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # small-star on the larger→smaller orientation: group hi, m = min
        # of its (all-smaller) neighbors; relink hi and each neighbor to m.
        mins2 = e.groupBy("hi").agg(F.min("lo").alias("m"))
        e = (
            e.join(mins2, "hi")
            .select(F.col("lo").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("hi").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(F.col("a").alias("hi"), F.col("b").alias("lo"))
            .distinct()
            # Eager: the probe below reads e three times (a self-join
            # among them); over a lazy checkpoint that probe once failed
            # with an NPE (RDD.dependencies() null).
            .localCheckpoint()
        )
        # star-forest test: one parent per child, and no parent (lo) is
        # itself a child (hi).  Roots are then the component minima.
        # Both structural violations union into a single existence
        # probe: one action per round besides the checkpoint's.
        multi_parent_probe = (
            e.groupBy("hi")
            .count()
            .filter(F.col("count") > 1)
            .select(F.lit(1).alias("one"))
            .limit(1)
        )
        chained_probe = (
            e.alias("x")
            .join(e.alias("y"), F.col("x.lo") == F.col("y.hi"))
            .select(F.lit(1).alias("one"))
            .limit(1)
        )
        not_forest = multi_parent_probe.union(chained_probe).limit(1).count()
        if not_forest == 0:
            return e.select(
                F.col("hi").alias("doc_id"), F.col("lo").alias("cluster_id")
            ).union(
                e.select("lo", "lo").distinct().toDF("doc_id", "cluster_id")
            )
    raise ValueError(
        f"connected_components did not converge in {max_iter} rounds: "
        "alternating large-star/small-star needs O(log n) rounds, so "
        "hitting this budget on a real graph means max_iter is set far "
        "below log2(component size) — raise it."
    )


# Pair generation via a POSTING-LIST join rather than all-pairs
# list_intersect: intersections are computed only for pairs sharing at
# least one bigram — equivalent at any positive threshold (a pair sharing
# no gram has Jaccard 0) and the difference between the oracle finishing
# in seconds vs hours at sf0.1 (all-pairs is ~2.5M pairs × O(|grams|²)
# element comparisons; postings is one equi join + a group-count).
_CLUSTER_PAIRS_SQL = f"""
    tokd AS (
        SELECT doc_id, lang, lower(trim(text)) AS lt,
               string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id, lang,
               list_distinct(CASE WHEN len(t) >= 2
                    THEN list_transform(range(1, len(t)),
                                        i -> t[i] || ' ' || t[i+1])
                    ELSE [lt] END) AS grams
        FROM tokd
    ),
    posts AS (
        SELECT doc_id, lang, len(grams) AS n, unnest(grams) AS gram FROM sh
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS c, ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        FROM posts a JOIN posts b
          ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        WHERE CAST(c AS DOUBLE) / (na + nb - c) >= {CLUSTER_THRESHOLD}
    )
"""


@query(
    "neardup_clusters",
    oracle=f"""
    WITH RECURSIVE
    {_CLUSTER_PAIRS_SQL},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster ids: bigram-Jaccard pairs at
    ``CLUSTER_THRESHOLD`` (lang-blocked exact verify — oracle-checkable),
    then connected components so chained duplicates (A≈B≈C with A≉C)
    land in ONE group.  ``cluster_id`` = min doc id of the component, the
    deterministic canonical-representative choice.  This registered form
    is the exact/oracle mode; :func:`neardup_cluster_assignments` offers
    the LSH candidate generator for scale."""
    return neardup_cluster_assignments(spark, sf_dir, neardup="exact")


def neardup_cluster_assignments(
    spark: SparkSession,
    sf_dir: str,
    neardup: str = "exact",
    threshold: float = CLUSTER_THRESHOLD,
    **lsh_kwargs,
) -> DataFrame:
    """Cluster assignment with a pluggable pair generator — the same
    exact/lsh split as ``training_data_curation``:

    - ``'exact'``: lang-blocked all-pairs verify (bounded kernel; the
      oracle mode).
    - ``'lsh'``: MinHash r=1 band buckets → posting-join exact verify —
      no all-pairs step, the 100 TB path.  Candidates are lang-filtered
      to match exact-mode blocking; a true pair at Jaccard j is missed
      with probability (1-j)^32, so at thresholds ≥ 0.2 the two modes
      agree on real corpora (pytest-asserted on the test corpus).  At
      the default CLUSTER_THRESHOLD (0.1) the per-pair miss rate is
      0.9^32 ≈ 3.4% — clustering at that looser threshold on LSH
      candidates wants more permutations (64 perms → 0.1% miss) via
      :func:`~national_caseload_data_ingest_spark.operators.dedup.
      neardup_pairs`'s ``perms`` parameter."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = neardup_pairs(d, threshold, mode=neardup, **lsh_kwargs)
    return connected_components(pairs.select("doc_a", "doc_b"))


# Shared by decontaminate_overlap and its bloom-screened twin — the two
# queries compute the IDENTICAL final relation through different physical
# plans, so they verify against the same oracle.
_DECONTAM_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, lower(trim(text)) AS lt,
               string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ),
    tri AS (
        SELECT doc_id, {_ngram_list_sql(DECONTAM_NGRAM)} AS grams
        FROM tok
    ),
    eval_grams AS (
        SELECT DISTINCT unnest(grams) AS gram FROM tri
        WHERE doc_id % {EVAL_MODULUS} = 0
    ),
    train AS (
        SELECT doc_id, unnest(grams) AS gram, len(grams) AS n_grams
        FROM tri WHERE doc_id % {EVAL_MODULUS} <> 0
    )
    SELECT train.doc_id,
           CAST(COUNT(*) AS BIGINT) AS shared_grams,
           CAST(ANY_VALUE(n_grams) AS INT) AS n_grams,
           CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(n_grams) AS contamination
    FROM train JOIN eval_grams USING (gram)
    GROUP BY train.doc_id
    """


@query("decontaminate_overlap", oracle=_DECONTAM_ORACLE)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-vs-eval n-gram contamination report: for every training doc
    sharing at least one word trigram with the held-out eval slice
    (``doc_id % EVAL_MODULUS == 0``), the count and fraction of its
    distinct trigrams that leak.  Dropping rows above a contamination
    threshold is then a plain anti join.

    Plan shape: one narrow postings pass over the corpus; the eval gram
    set is a tiny DISTINCT that AQE broadcasts into the overlap join, so
    the corpus is never shuffled by gram — posting rows stream past the
    broadcast hash table and only hits reach the per-doc aggregate."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    tri = word_ngram_postings(d, DECONTAM_NGRAM)
    is_eval = F.col("doc_id") % EVAL_MODULUS == 0
    eval_grams = tri.filter(is_eval).select("gram").distinct()
    train = tri.filter(~is_eval)
    return (
        train.join(eval_grams, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("shared_grams"),
            F.first("n_grams").alias("n_grams"),
            (F.count(F.lit(1)).cast("double") / F.first("n_grams")).alias(
                "contamination"
            ),
        )
    )


# Bloom-screen parameters.  m = 2^16 bits (8 KiB bitmap) holds the test
# corpus's ~5k eval grams at k=3 with a <1% false-positive rate; the scale
# rule is m ≈ 10-15 bits/key for ~0.1-1% FPR (10^9 eval grams → ~1.5 GiB
# bitmap, still a broadcastable constant where the raw gram set is not).
BLOOM_BITS = 1 << 16
BLOOM_HASHES = 3


def bloom_bitmap(grams: DataFrame, m: int = BLOOM_BITS, k: int = BLOOM_HASHES):
    """Build a Bloom-filter bitmap over a gram column as a Python list of
    ``m/64`` signed longs — built DISTRIBUTED (explode probes → groupBy
    word → bit_or) with only the finished word masks collected: the same
    tiny-driver-model pattern as IVF centroids (bitmap bytes = m/8,
    independent of corpus size).  Hash family: ``xxhash64(gram, i)`` for
    probe ``i`` — available identically at build and probe time."""
    words = (
        grams.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64("gram", F.lit(i)), F.lit(m))
                        for i in range(k)
                    ]
                )
            ).alias("pos")
        )
        .select(
            (F.col("pos") / F.lit(64)).cast("int").alias("w"),
            (F.col("pos") % F.lit(64)).cast("int").alias("b"),
        )
        .groupBy("w")
        .agg(
            F.bit_or(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), F.col("b")
                )
            ).alias("mask")
        )
        .collect()
    )
    arr = [0] * (m // 64)
    for r in words:
        arr[r["w"]] = r["mask"]
    return arr


def bloom_might_contain(
    col, bitmap: list[int], m: int = BLOOM_BITS, k: int = BLOOM_HASHES
):
    """Narrow membership-test expression against a driver-built bitmap:
    all ``k`` probe bits set.  The bitmap rides the plan as ONE folded
    array literal (no join, no shuffle, no UDF) — probing runs at scan
    speed inside whole-stage codegen."""
    arr = F.lit(bitmap)
    cond = F.lit(True)
    for i in range(k):
        pos = F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m))
        w = (pos / F.lit(64)).cast("int")
        b = (pos % F.lit(64)).cast("int")
        bit = F.call_function("shiftleft", F.lit(1).cast("long"), b)
        cond = cond & (
            F.element_at(arr, w + F.lit(1)).bitwiseAND(bit) != F.lit(0)
        )
    return cond


@query("decontaminate_bloom", oracle=_DECONTAM_ORACLE)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-screened decontamination — same final relation as
    :func:`decontaminate_overlap` (same oracle; Bloom filters give false
    POSITIVES only, and the exact confirm join removes those), different
    physical plan for a different scale regime:

    * ``decontaminate_overlap`` broadcasts the DISTINCT eval gram set —
      right when the eval corpus is small enough to ship as a hash table.
    * this twin compresses the eval grams into a FIXED-SIZE bitmap
      (m/8 bytes regardless of gram count) and probes it as a narrow
      codegen'd expression, so the train postings that survive to the
      exact confirm join are only the true overlaps plus a ~1% false-
      positive trickle.  At 10^9 eval grams the gram hash table stops
      being broadcastable but the ~1.5 GiB bitmap (or a per-executor
      bloom from ``spark.util.sketch``) still is, and the confirm join's
      build side is unchanged while its PROBE side shrank ~100×.

    Spark's native ``bloom_filter_agg``/``might_contain`` expressions are
    runtime-filter internals (not SQL-registered in OSS builds), so the
    bitmap is built from relational primitives — explode k probe
    positions, ``bit_or`` word masks — which also keeps the build fully
    distributed and engine-deterministic."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    # Materialize the trigram postings ONCE (r14, guide §3.3): the
    # relation has THREE consumers — the bitmap-build collect, the
    # confirm join's eval side, and the train probe side — and without
    # a barrier each re-ran the whole tokenize+explode pass (measured:
    # 3 tokenize executions, ~2.8 s clean; one pass + two cached reads
    # after).  Eager because the bitmap collect is the first action
    # anyway; localCheckpoint lives only for this invocation.
    tri = word_ngram_postings(d, DECONTAM_NGRAM).localCheckpoint(eager=True)
    is_eval = F.col("doc_id") % EVAL_MODULUS == 0
    eval_grams = tri.filter(is_eval).select("gram").distinct()
    bitmap = bloom_bitmap(eval_grams)
    train = tri.filter(~is_eval)
    screened = train.filter(bloom_might_contain(F.col("gram"), bitmap))
    return (
        screened.join(eval_grams, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("shared_grams"),
            F.first("n_grams").alias("n_grams"),
            (F.count(F.lit(1)).cast("double") / F.first("n_grams")).alias(
                "contamination"
            ),
        )
    )


@query(
    "common_ngram_fraction",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lower(trim(text)) AS lt,
               string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents
    ),
    g AS (
        SELECT doc_id, {_ngram_list_sql(2)} AS grams
        FROM tok
    ),
    posts AS (SELECT doc_id, unnest(grams) AS gram FROM g),
    dfreq AS (SELECT gram, COUNT(*) AS df FROM posts GROUP BY gram),
    tot AS (
        SELECT CAST(SUM(df) AS BIGINT) AS total_postings,
               CAST(COUNT(*) AS BIGINT) AS n_vocab
        FROM dfreq
    )
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN d.df * t.n_vocab > t.total_postings
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           CAST(SUM(CASE WHEN d.df * t.n_vocab > t.total_postings
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS common_fraction
    FROM posts p JOIN dfreq d USING (gram) CROSS JOIN tot t
    GROUP BY p.doc_id
    """,
)
def common_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate score: the fraction of a doc's distinct
    word bigrams whose document frequency is above the corpus mean —
    headers, footers, and templated spans shared across many documents
    score high, and filtering is a threshold on the column.  This is the
    corpus-wide complement of :func:`~.text.repetition_score` (which sees
    only within-doc repetition).

    Plan shape: the shared narrow postings kernel feeds (1) a
    document-frequency aggregate keyed on gram — the shuffle carries one
    row per distinct gram per task after map-side combine — and (2) a join
    of postings back to those frequencies, then a per-doc aggregate.  The
    frequency side is gram-vocabulary-sized, so AQE broadcasts it while it
    fits and falls back to a shuffle join beyond that; nothing in the plan
    is quadratic in corpus size.

    The common rule cross-multiplies (``df * n_vocab > total_postings``) —
    pure BIGINT arithmetic, so the DuckDB oracle hash-matches exactly;
    the single ratio column is one double division."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    posts = word_ngram_postings(d, 2).select("doc_id", "gram")
    dfreq = posts.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    tot = dfreq.agg(
        F.sum("df").cast("bigint").alias("total_postings"),
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
    )
    is_common = (
        F.col("df") * F.col("n_vocab") > F.col("total_postings")
    ).cast("int")
    return (
        posts.join(dfreq, "gram")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(is_common).cast("bigint").alias("n_common"),
            (F.sum(is_common).cast("double") / F.count(F.lit(1))).alias(
                "common_fraction"
            ),
        )
    )


def _rate_threshold() -> F.Column:
    expr = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, hex_rate in SAMPLE_RATES.items():
        expr = F.when(F.col("lang") == lang, F.lit(hex_rate)).otherwise(expr)
    return expr


@query(
    "stratified_sample_docs",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substring(md5(text), 1, 8) <
          CASE lang WHEN 'en' THEN '{SAMPLE_RATES["en"]}'
                    WHEN 'fr' THEN '{SAMPLE_RATES["fr"]}'
                    ELSE '{SAMPLE_DEFAULT_RATE}' END
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling: keep a doc iff the first 8
    hex digits of ``md5(text)`` fall below the language's rate threshold
    (en 1/2, fr 1/4, default 1/8).

    Content-hash thresholding beats ``rand()`` sampling for corpus work:
    reproducible across engines/runs/partitionings, exact duplicates
    always sample identically (no dedup-order dependence), and per-stratum
    rates are a CASE expression — a pure narrow filter that pushes into
    the scan, no shuffle at any scale."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return d.filter(
        F.substring(F.md5(F.col("text").cast("binary")), 1, 8) < _rate_threshold()
    ).select("doc_id", "lang", "source")


@query(
    "balanced_mixture_sample",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY md5(text), doc_id) AS lang_rank
        FROM documents
    ),
    target AS (
        SELECT MIN(c) AS t
        FROM (SELECT COUNT(*) AS c FROM documents GROUP BY lang)
    )
    SELECT doc_id, lang, source, CAST(lang_rank AS BIGINT) AS lang_rank
    FROM ranked CROSS JOIN target
    WHERE lang_rank <= t
    """,
)
def balanced_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture balancing: downsample every language stratum to the
    size of the SMALLEST one, so the curated mix is uniform across
    languages — the data-driven cousin of :func:`stratified_sample_docs`
    (whose rates are fixed constants).  The same shape balances any
    mixture axis (source, domain, topic cluster) by swapping the key.

    Selection is deterministic: docs rank within their language by
    ``(md5(text), doc_id)`` — a content hash, so the kept subset is
    reproducible across engines, runs, and partitionings, and exact
    duplicates never both survive a tie.  The per-language budget comes
    from the data (min stratum count), computed by a doc-count aggregate
    that reduces to one row per language before a single-row global min —
    broadcast back against the ranked stream, never collected.

    Scale shape: one window shuffle on lang (the same exchange the rank
    needs anyway) + a broadcast of a languages-count row set.  The window
    sorts each language partition; at 100 TB the heavy-stratum sort is the
    cost, and the standard refinement is a two-pass rank (approximate the
    rank-t md5 cutoff per lang from a sample, filter, then rank only the
    boundary) — same contract, noted for the runbook."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    md5_hex = F.md5(F.col("text").cast("binary"))
    w = W.partitionBy("lang").orderBy(md5_hex, "doc_id")
    ranked = d.select(
        "doc_id",
        "lang",
        "source",
        F.row_number().over(w).cast("bigint").alias("lang_rank"),
    )
    target = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.min("c").alias("t"))
    )
    return ranked.join(F.broadcast(target), ranked.lang_rank <= F.col("t")).drop(
        "t"
    )


@query(
    "token_budget_shards",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                 AS n_tokens
        FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens) / {TOKENS_PER_SHARD}) AS BIGINT) AS shard
    FROM t
    """,
)
def token_budget_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every doc to a ~TOKENS_PER_SHARD (4096)-token output shard
    per language: shard = floor(tokens-before-this-doc / budget) over a
    doc_id-ordered running sum.

    This is the curated-corpus → training-shards layout step; the shard
    column then drives ``df.write.partitionBy('lang', 'shard')``.  One
    window (= one shuffle on lang) computes every assignment; at 100 TB
    the per-lang ordering would be ``repartitionByRange(lang, doc_id)`` +
    an in-partition running sum with per-partition offsets, but the
    single-window form is the semantic contract."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    n_tokens = ws_token_count().cast("bigint")
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    t = d.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return t.withColumn(
        "shard", F.floor(before / TOKENS_PER_SHARD).cast("bigint")
    )


_TRIGRAMS = f"""
        SELECT doc_id, {_ngram_list_sql(DECONTAM_NGRAM)} AS grams
"""


@query(
    "training_corpus_build",
    oracle=f"""
    WITH train AS (
        SELECT * FROM documents WHERE doc_id % {EVAL_MODULUS} <> 0
    ),
    eval_docs AS (
        SELECT * FROM documents WHERE doc_id % {EVAL_MODULUS} = 0
    ),
    filtered AS (
        SELECT doc_id, lang, source, text,
               len(string_split_regex(trim(text), '\\s+')) AS nt
        FROM train
        WHERE LENGTH(text) >= 100
          AND len(string_split_regex(trim(text), '\\s+')) >= 20
    ),
    canon AS (SELECT MIN(doc_id) AS doc_id FROM filtered GROUP BY md5(text)),
    kept AS (SELECT f.* FROM filtered f JOIN canon USING (doc_id)),
    sh AS (
        SELECT doc_id, lang,
               list_distinct(CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) >= 2
                    THEN list_transform(
                        range(1, len(string_split_regex(lower(trim(text)), '\\s+'))),
                        i -> string_split_regex(lower(trim(text)), '\\s+')[i] || ' ' ||
                             string_split_regex(lower(trim(text)), '\\s+')[i+1])
                    ELSE [lower(trim(text))] END) AS grams
        FROM kept
    ),
    -- posting-list join, not all-pairs list_intersect (identical at any
    -- positive threshold; seconds instead of minutes at sf0.1)
    nd_posts AS (
        SELECT doc_id, lang, len(grams) AS n, unnest(grams) AS gram
        FROM sh
    ),
    nd_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS c, ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        FROM nd_posts a JOIN nd_posts b
          ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    neardup AS (
        SELECT DISTINCT doc_b AS doc_id
        FROM nd_inter
        WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.2
    ),
    kept2 AS (
        SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM neardup)
    ),
    tok2 AS (
        SELECT doc_id, lower(trim(text)) AS lt,
               string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM kept2
    ),
    tri_kept AS ({_TRIGRAMS} FROM tok2),
    tok_eval AS (
        SELECT doc_id, lower(trim(text)) AS lt,
               string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM eval_docs
    ),
    eval_grams AS (
        SELECT DISTINCT unnest(grams) AS gram FROM ({_TRIGRAMS} FROM tok_eval)
    ),
    contaminated AS (
        SELECT tg.doc_id
        FROM (SELECT doc_id, unnest(grams) AS gram, len(grams) AS n_grams
              FROM tri_kept) tg
        JOIN eval_grams USING (gram)
        GROUP BY tg.doc_id
        HAVING CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(n_grams) > {CONTAM_FRAC}
    ),
    sampled AS (
        SELECT * FROM kept2
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
          AND substring(md5(text), 1, 8) <
              CASE lang WHEN 'en' THEN '{SAMPLE_RATES["en"]}'
                        WHEN 'fr' THEN '{SAMPLE_RATES["fr"]}'
                        ELSE '{SAMPLE_DEFAULT_RATE}' END
    )
    SELECT doc_id, lang, source, CAST(nt AS BIGINT) AS n_tokens,
           CAST(FLOOR((SUM(nt) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - nt) / {TOKENS_PER_SHARD}) AS BIGINT) AS shard
    FROM sampled
    """,
)
def training_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked entry point for :func:`corpus_build` (exact near-dup
    mode, so the whole seven-stage composition stays SQL-expressible)."""
    return corpus_build(spark, sf_dir, neardup="exact")


def corpus_build(
    spark: SparkSession, sf_dir: str, neardup: str = "exact"
) -> DataFrame:
    """The complete corpus build, every stage composed in production
    order — the flagship end-to-end query of the curation surface:

    1. hold out the eval slice (``doc_id % EVAL_MODULUS == 0``);
    2. quality filter (≥100 chars, ≥20 tokens — narrow, runs first);
    3. exact dedup (min-doc-id survivor per content hash);
    4. near-dup removal (bigram Jaccard ≥ 0.2, lang-blocked) through the
       shared :func:`~national_caseload_data_ingest_spark.operators.dedup.
       neardup_pairs` switch: ``'exact'`` is the bounded all-pairs
       verifier (oracle mode), ``'lsh'`` the no-all-pairs 100 TB path,
       pytest-asserted identical on the test corpus;
    5. decontamination (drop docs with > CONTAM_FRAC of their trigrams in
       the eval set);
    6. deterministic per-lang downsampling (md5-prefix threshold);
    7. token-budget shard assignment (running-sum window).

    Stage order is the cost argument: each narrow filter shrinks the
    corpus before the next (more expensive) stage — the near-dup verify
    and the contamination join both run against an already
    filtered+deduped corpus, and the only wide operations are the dedup
    groupBys, the overlap join (eval side broadcast), and the final
    per-lang window.  Every stage is deterministic, so the seven-stage
    composition hash-matches one DuckDB SQL statement end-to-end."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    is_eval = F.col("doc_id") % EVAL_MODULUS == 0
    train, eval_docs = d.filter(~is_eval), d.filter(is_eval)
    nt = ws_token_count()
    filtered = train.withColumn("nt", nt).filter(
        (F.length("text") >= 100) & (F.col("nt") >= 20)
    )
    canon = (
        filtered.groupBy(F.md5(F.col("text").cast("binary")).alias("k"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # Barrier the two reused stages (r14, guide §3.3 "materialising an
    # intermediate truncates the plan"): ``kept`` feeds both the
    # near-dup pair kernel and ``kept2``; ``kept2`` feeds both the
    # trigram kernel and the final sample — without barriers the
    # before-plan held the exact-dedup aggregate FOUR times and the
    # near-dup pair kernel TWICE (94-node tree, 9 scans).  Lazy local
    # checkpoints keep one computation per stage (RDD-level sharing
    # inside the single action) without any cross-run state; use
    # reliable ``checkpoint`` on a real cluster.
    kept = filtered.join(canon, "doc_id", "left_semi") \
        .localCheckpoint(eager=False)
    pairs = neardup_pairs(kept, 0.2, mode=neardup)
    # no distinct on the anti-join's right side: LEFT ANTI is insensitive
    # to build-side duplicates, so deduping them is a pure extra shuffle
    dup_ids = pairs.select(F.col("doc_b").alias("doc_id"))
    kept2 = kept.join(dup_ids, "doc_id", "left_anti") \
        .localCheckpoint(eager=False)
    tri = word_ngram_postings(kept2, DECONTAM_NGRAM)
    eval_grams = (
        word_ngram_postings(eval_docs, DECONTAM_NGRAM).select("gram").distinct()
    )
    contaminated = (
        tri.join(eval_grams, "gram")
        .groupBy("doc_id")
        .agg(
            (F.count(F.lit(1)).cast("double") / F.first("n_grams")).alias("frac")
        )
        .filter(F.col("frac") > CONTAM_FRAC)
        .select("doc_id")
    )
    sampled = kept2.join(contaminated, "doc_id", "left_anti").filter(
        F.substring(F.md5(F.col("text").cast("binary")), 1, 8) < _rate_threshold()
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    before = F.sum("nt").over(w) - F.col("nt")
    return sampled.select(
        "doc_id",
        "lang",
        "source",
        F.col("nt").cast("bigint").alias("n_tokens"),
        F.floor(before / TOKENS_PER_SHARD).cast("bigint").alias("shard"),
    )


def _shard_offsets(stats: list) -> dict:
    """Driver-side per-(partition, lang) token offsets from the tiny
    pass-1 stats (n_partitions × n_langs rows — the justified
    driver-model pattern)."""
    by_lang: dict = {}
    for r in stats:
        by_lang.setdefault(r["lang"], []).append((r["pid"], r["tot"]))
    offsets = {}
    for lang, lst in by_lang.items():
        acc = 0
        for pid, tot in sorted(lst):
            offsets[(int(pid), lang)] = acc
            acc += int(tot)
    return offsets


def _shard_kernel(offsets: dict, budget: int):
    """mapInPandas kernel over ONE range partition (batch iterator spans
    the partition, so the running sum carries across Arrow batches):
    shard = floor((global offset + tokens before this doc) / budget).
    Vectorized: a per-lang grouped cumsum + a dict-mapped base per lang
    — no per-row Python on the scale path."""

    def gen(batches):
        run: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            pid = int(pdf["pid"].iat[0])  # constant within a partition
            base_map = {
                lang: offsets.get((pid, lang), 0) + run.get(lang, 0)
                for lang in pdf["lang"].unique()
            }
            within = (
                pdf.groupby("lang", sort=False)["n_tokens"].cumsum()
                - pdf["n_tokens"]
            )
            before = pdf["lang"].map(base_map) + within
            out = pdf[["doc_id", "lang", "n_tokens"]].copy()
            out["shard"] = (before // budget).astype("int64")
            for lang, s in (
                pdf.groupby("lang", sort=False)["n_tokens"].sum().items()
            ):
                run[lang] = run.get(lang, 0) + int(s)
            yield out

    return gen


@query(
    "token_budget_shards_scaled",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                 AS n_tokens
        FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens) / {TOKENS_PER_SHARD}) AS BIGINT) AS shard
    FROM t
    """,
)
def token_budget_shards_scaled(
    spark: SparkSession, sf_dir: str, n_partitions: int = 8
) -> DataFrame:
    """The 100 TB form of :func:`token_budget_shards`, made real (same
    oracle, identical output): instead of one global window per lang —
    which at scale serializes each language through a single task —
    this range-partitions on (lang, doc_id), then

    1. **pass 1**: per-(partition, lang) token totals (a tiny aggregate,
       collected as the driver-side offset model);
    2. **pass 2**: a narrow ``mapInPandas`` running sum within each
       partition, started from the partition's global offset.

    The partitioned relation is persisted so both passes see the same
    range-partition assignment — repartitionByRange SAMPLES its
    boundaries, and two independently compiled plans could sample
    differently; the cached relation (whose range bounds live in its
    shuffle dependency, surviving even block eviction) pins one
    assignment for both passes.  The entry stays in the cache manager
    for the session; sessions sharding many distinct corpora should
    ``spark.catalog.clearCache()`` between batches (same policy as
    ``dedup._shared_postings``).  Languages larger than one partition
    parallelize across partitions — the property the single-window form
    lacks."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    nt = ws_token_count().cast("bigint")
    parted = (
        d.select("doc_id", "lang", nt.alias("n_tokens"))
        .repartitionByRange(n_partitions, "lang", "doc_id")
        .sortWithinPartitions("lang", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    stats = (
        parted.groupBy("pid", "lang").agg(F.sum("n_tokens").alias("tot")).collect()
    )
    offsets = _shard_offsets(stats)
    return parted.mapInPandas(
        _shard_kernel(offsets, TOKENS_PER_SHARD),
        schema="doc_id bigint, lang string, n_tokens bigint, shard bigint",
    )


# -- deterministic weighted sampling (Efraimidis–Spirakis) ----------------

WEIGHTED_SAMPLE_K = 100

# Knuth multiplicative hash → unit interval.  Chosen over xxhash64
# because both engines reproduce the arithmetic exactly, which is what
# makes the sample ORACLE-CHECKABLE; a production corpus with adversarial
# doc_ids should swap in xxhash64 (same plan shape, rows-only check).
_KNUTH = 2654435761
_MOD = 4294967296  # 2^32


@query(
    "weighted_sample_docs",
    oracle=f"""
    SELECT doc_id, source, n_chars,
           ln(CAST((doc_id * {_KNUTH}) % {_MOD} + 1 AS DOUBLE)
              / {_MOD + 1}) / n_chars AS es_key
    FROM documents
    ORDER BY es_key DESC, doc_id
    LIMIT {WEIGHTED_SAMPLE_K}
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006): draw {WEIGHTED_SAMPLE_K} docs with inclusion odds
    proportional to length (``n_chars``) — the length-aware corpus-mixing
    draw, as one pass.

    Each doc gets key ln(u)/w for a deterministic unit uniform u; the
    top-k keys ARE the weighted sample (u^(1/w) ordering, log form).
    The whole operator is a codegen expression + ``TakeOrderedAndProject``
    (per-partition heaps of k rows — no global sort, no shuffle of the
    corpus), so it scales as a narrow scan at any size.  Ties broken by
    doc_id for a stable relation."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    u = (
        ((F.col("doc_id") * _KNUTH) % _MOD + 1).cast("double")
        / F.lit(float(_MOD + 1))
    )
    return (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            (F.log(u) / F.col("n_chars")).alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
    )


# Leakage-safe split thresholds on the first 8 md5 hex digits of the
# GROUP id: train 75% (< c0000000), validation 12.5% (< e0000000),
# test 12.5%.  Hashing the group — not the document — is the point.
SPLIT_TRAIN_HEX = "c0000000"
SPLIT_VAL_HEX = "e0000000"


def leakage_safe_split(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Group-aware train/validation/test split: every member of a
    near-duplicate cluster lands in the SAME fold.

    A document-level hash split leaks: near-duplicate pairs straddle
    train and test, so held-out metrics measure memorization of
    trainset twins rather than generalization (the failure mode
    train-test decontamination papers exist for).  The fix is to hash
    the near-dup CLUSTER id — singletons hash their own doc_id — so a
    whole duplicate family moves between folds as one unit, while the
    fold sizes still follow the hash-threshold proportions in
    expectation.

    Plan shape: the cluster assignment is the connected-components
    output (O(log n) alternating-star rounds, curation.py); the split
    itself is one LEFT broadcast-or-shuffle join (cluster relation ≪
    corpus: only docs that HAVE a near-dup appear) plus a narrow
    md5-threshold CASE — the same engine-reproducible
    content-hash-split trick the sampling family uses, so fold
    membership is stable across engines, runs, and partitionings.
    """
    md5_8 = F.substring(
        F.md5(F.col("group_id").cast("string").cast("binary")), 1, 8
    )
    return (
        docs.select("doc_id", "lang")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("group_id"),
        )
        .select(
            "doc_id",
            "lang",
            "group_id",
            F.when(md5_8 < SPLIT_TRAIN_HEX, "train")
            .when(md5_8 < SPLIT_VAL_HEX, "validation")
            .otherwise("test")
            .alias("split"),
        )
    )


@query(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE
    {_CLUSTER_PAIRS_SQL},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
    ),
    clusters AS (
        SELECT node AS doc_id, MIN(lbl) AS cluster_id
        FROM reach GROUP BY node
    ),
    grouped AS (
        SELECT d.doc_id, d.lang,
               COALESCE(c.cluster_id, d.doc_id) AS group_id
        FROM documents d LEFT JOIN clusters c USING (doc_id)
    )
    SELECT doc_id, lang, group_id,
           CASE WHEN substring(md5(CAST(group_id AS VARCHAR)), 1, 8)
                     < '{SPLIT_TRAIN_HEX}' THEN 'train'
                WHEN substring(md5(CAST(group_id AS VARCHAR)), 1, 8)
                     < '{SPLIT_VAL_HEX}' THEN 'validation'
                ELSE 'test' END AS split
    FROM grouped
    """,
)
def leakage_safe_split_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver registration: exact-mode near-dup clusters (the
    oracle-checkable pair generator; swap ``neardup='lsh'`` for the
    100 TB path, identical downstream) feeding the group-aware split."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    clusters = neardup_cluster_assignments(spark, sf_dir, neardup="exact")
    return leakage_safe_split(d, clusters)


# ---------------------------------------------------------------------------
# α-weighted mixture allocation (multilingual/source rebalancing)
# ---------------------------------------------------------------------------

MIX_BUDGET = 1000  # documents to sample across sources
# α = 0.5: the exponent that up-weights small sources relative to
# proportional sampling (Conneau & Lample 2019 / XLM-R convention —
# p_s ∝ n_s^α).  0.5 = sqrt, which is IEEE-correctly-rounded in every
# engine, keeping the whole allocation cross-engine exact.


@query(
    "alpha_mixture_allocation",
    oracle=f"""
    WITH tok AS (
        SELECT source,
               CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT)
                 AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT source, n_tokens,
               CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 9)
                    AS DECIMAL(28,9)) AS wgt
        FROM tok
    ),
    tot AS (SELECT SUM(wgt) AS wsum, SUM(n_tokens) AS ntot FROM w),
    quota AS (
        SELECT source, n_tokens,
               CAST(wgt AS DOUBLE) * {MIX_BUDGET} / CAST(t.wsum AS DOUBLE)
                 AS q,
               t.ntot
        FROM w CROSS JOIN tot t
    ),
    fl AS (
        SELECT source, n_tokens, ntot, q,
               CAST(FLOOR(q) AS BIGINT) AS base,
               q - FLOOR(q) AS rem
        FROM quota
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
               {MIX_BUDGET} - SUM(base) OVER () AS leftover
        FROM fl
    )
    SELECT source, n_tokens,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked
    """,
)
def alpha_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document budget under α = 0.5 mixture reweighting
    (p_s ∝ n_tokens^α — the multilingual rebalancing rule that
    up-weights small sources), apportioned to EXACT integers by the
    largest-remainder (Hamilton) method, ties to the lexicographically
    first source.  Σ alloc == MIX_BUDGET always.

    Cross-engine exactness: weights are sqrt's correctly-rounded doubles
    quantized to DECIMAL(28,9) before the order-independent exact sum
    (the lm.py convention); each quota is one multiply + one divide of
    the same doubles; floors and the remainder ranking are then integer/
    deterministic — so the full allocation hash-matches the oracle.

    Shapes: one token-count aggregation (the only corpus-touching
    stage, map-side combined), then window + apportionment over the
    SOURCES relation — thousands of rows at worst (the global-order
    window rides the bounded-metadata exception, analytic.py)."""
    d = load_tables(spark, sf_dir, "documents")["documents"]
    tok = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), " ")))
        .cast("bigint")
        .alias("n_tokens")
    )
    w = tok.withColumn(
        "wgt",
        F.round(F.sqrt(F.col("n_tokens").cast("double")), 9).cast(
            "decimal(28,9)"
        ),
    )
    tot = w.agg(F.sum("wgt").alias("wsum"))
    quota = w.crossJoin(F.broadcast(tot)).withColumn(
        "q",
        F.col("wgt").cast("double")
        * F.lit(MIX_BUDGET)
        / F.col("wsum").cast("double"),
    )
    fl = quota.select(
        "source",
        "n_tokens",
        F.floor("q").cast("bigint").alias("base"),
        (F.col("q") - F.floor("q")).alias("rem"),
    )
    from pyspark.sql.window import Window as W  # noqa: PLC0415

    ranked = fl.select(
        "source",
        "n_tokens",
        "base",
        F.row_number()
        .over(W.orderBy(F.col("rem").desc(), F.col("source")))
        .alias("rk"),
        (F.lit(MIX_BUDGET) - F.sum("base").over(W.partitionBy()))
        .alias("leftover"),
    )
    return ranked.select(
        "source",
        "n_tokens",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    )
