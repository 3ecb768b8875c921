"""Distinct-count sketches: K-Minimum-Values (KMV), engine-portable.

SURVEY.md §2.13.6 left approximate sketches (approx_count_distinct /
approx_percentile) rows-only-checked because HLL internals differ across
engines. KMV closes that gap: the sketch IS k order statistics of a
deterministic hash (md5), so two engines computing it over the same rows
produce the IDENTICAL sketch — estimate and all — and the driver can
hash-match it exactly. The estimator is the classic Bar-Yossef et al.
(k-1)/h_(k) with hashes mapped to (0,1] via their first 32 bits.

Scale posture: the distinct-hash stage is one hash-aggregate (map-side
combined — the shuffle carries one row per distinct value). The k-th
order statistic is taken per group with a rank window; at cluster scale
that window becomes the two-stage partial form every KMV deployment uses:
keep the k smallest per partition (bounded state), merge the k-lists —
which is exactly the property q_sketch_kmv_merge PROVES on this engine:
the k smallest of the union of per-half k-minimums equals the k smallest
of the whole, so partial sketches compose losslessly across partitions,
executors, or days of ingest.

Everything downstream of md5 is exact integer arithmetic (hex-digit fold,
integer DIV) — no float summation anywhere, per the §2.13 determinism
discipline.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from pkg2_spark.catalog import load_tables
from pkg2_spark.operators.lsh import self_pairs
from pkg2_spark.operators.sampling import BUCKETS as _BUCKETS
from pkg2_spark.operators.sampling import frac_to_threshold as _frac_to_threshold
from pkg2_spark.operators.sampling import hash_split
from pkg2_spark.registry import query

_K = 64

# q_sketch_join_card's coordinated-sample fraction; threshold, inverse
# scale, and the oracle all derive from this ONE constant (r11 advice:
# a hard-coded 65536/3276 pair could silently drift from the filter).
_JOIN_CARD_FRAC = 0.05
_JC_N = int(_JOIN_CARD_FRAC * _BUCKETS)

# md5 -> exact 32-bit integer digit folding, shared with the Bloom filter
# and DSIR feature hashing (see the ANSI-overflow note there: each digit
# term is widened to BIGINT before the power multiply).
from pkg2_spark.operators.hashing import v32_spark as _v32_spark  # noqa: E402
from pkg2_spark.operators.hashing import v32_sql as _v32_sql  # noqa: E402


# (k-1) * 2^32, the estimator numerator: est = floor((k-1) * 2^32 / v32(kth)).
_NUM = (_K - 1) * 4294967296


@query(
    "q_sketch_kmv",
    oracle=f"""
WITH d AS (
  SELECT DISTINCT l_returnflag, md5(CAST(l_partkey AS VARCHAR)) AS h
  FROM lineitem
),
kth AS (
  SELECT l_returnflag, h FROM d
  QUALIFY row_number() OVER (
    PARTITION BY l_returnflag ORDER BY h ASC NULLS LAST
  ) = {_K}
),
x AS (
  SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact
  FROM lineitem GROUP BY l_returnflag
)
SELECT kth.l_returnflag,
       kth.h AS kth_hash,
       CAST({_NUM} // ({_v32_sql('kth.h')}) AS BIGINT) AS est_distinct,
       x.n_exact,
       CAST(abs(CAST({_NUM} // ({_v32_sql('kth.h')}) AS BIGINT) - x.n_exact) * 10000
            // x.n_exact AS BIGINT) AS err_bp
FROM kth JOIN x ON kth.l_returnflag = x.l_returnflag
""",
)
def q_sketch_kmv(spark, sf_dir):
    """KMV distinct-count sketch per group, hash-matched EXACTLY against the
    oracle (unlike HLL, the whole sketch is deterministic): distinct md5
    hash-agg → two-stage k-minimum (per-salt partial k-lists, then a merge
    of the k smallest of their union) → integer estimator. Emits the
    estimate, the exact count, and the error in basis points — the QA row
    a pipeline tracks when sizing k.

    The two-stage form IS the scale path q_sketch_kmv_merge proves
    correct: a per-group rank window would funnel each group through one
    partition (3 groups = parallelism 3 no matter the cluster), while the
    64-salt partial stage keeps every task's state at <= k hashes and the
    merge is a constant 64*k-element array fold per group. At larger
    corpora, scale the salt count with the data; the merged result is
    invariant to it."""
    li = load_tables(spark, sf_dir)["lineitem"]
    d = (
        li.select("l_returnflag", F.md5(F.col("l_partkey").cast("string")).alias("h"))
        .distinct()
    )
    part = d.groupBy(
        "l_returnflag", F.pmod(F.xxhash64("h"), F.lit(64)).alias("salt")
    ).agg(F.slice(F.array_sort(F.collect_list("h")), 1, _K).alias("ks"))
    # try_element_at, not element_at: under ANSI mode (Spark 4 default) a
    # group with fewer than k distinct hashes would otherwise throw
    # INVALID_ARRAY_INDEX; the null filter mirrors the oracle's rn = K
    # predicate, which silently DROPS such under-filled groups.
    kth = part.groupBy("l_returnflag").agg(
        F.try_element_at(
            F.slice(F.array_sort(F.flatten(F.collect_list("ks"))), 1, _K),
            F.lit(_K),
        ).alias("kth_hash")
    ).filter(F.col("kth_hash").isNotNull())
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_exact")
    )
    est = F.expr(f"{_NUM} DIV ({_v32_spark('kth_hash')})").cast("long")
    out = kth.join(exact, "l_returnflag").select(
        "l_returnflag",
        "kth_hash",
        est.alias("est_distinct"),
        "n_exact",
        F.expr(
            f"abs(CAST({_NUM} DIV ({_v32_spark('kth_hash')}) AS BIGINT) - n_exact) * 10000"
            " DIV n_exact"
        ).cast("long").alias("err_bp"),
    )
    return out


@query(
    "q_sketch_kmv_merge",
    oracle=f"""
WITH d AS (
  SELECT DISTINCT l_returnflag,
         CAST(l_orderkey % 2 AS INTEGER) AS half,
         md5(CAST(l_partkey AS VARCHAR)) AS h
  FROM lineitem
),
part_k AS (
  SELECT l_returnflag, half, h FROM d
  QUALIFY row_number() OVER (
    PARTITION BY l_returnflag, half ORDER BY h ASC NULLS LAST
  ) <= {_K}
),
merged AS (
  SELECT DISTINCT l_returnflag, h FROM part_k
),
merged_kth AS (
  SELECT l_returnflag, h FROM merged
  QUALIFY row_number() OVER (
    PARTITION BY l_returnflag ORDER BY h ASC NULLS LAST
  ) = {_K}
),
direct AS (
  SELECT DISTINCT l_returnflag, md5(CAST(l_partkey AS VARCHAR)) AS h
  FROM lineitem
),
direct_kth AS (
  SELECT l_returnflag, h FROM direct
  QUALIFY row_number() OVER (
    PARTITION BY l_returnflag ORDER BY h ASC NULLS LAST
  ) = {_K}
)
SELECT m.l_returnflag,
       CAST({_NUM} // ({_v32_sql('m.h')}) AS BIGINT) AS est_merged,
       CAST({_NUM} // ({_v32_sql('dk.h')}) AS BIGINT) AS est_direct,
       CAST(m.h = dk.h AS INTEGER) AS merge_exact
FROM merged_kth m JOIN direct_kth dk ON m.l_returnflag = dk.l_returnflag
""",
)
def q_sketch_kmv_merge(spark, sf_dir):
    """KMV mergeability proof — the property that makes the sketch a
    DISTRIBUTED aggregate: build per-half partial sketches (k smallest
    hashes per l_orderkey parity), merge them (k smallest of the union),
    and compare against the sketch built over the whole table. merge_exact
    = 1 per group is the theorem holding on real data; at cluster scale
    the halves are partitions/executors/ingest-days and the merge is the
    reduce side."""
    li = load_tables(spark, sf_dir)["lineitem"]
    d = (
        li.select(
            "l_returnflag",
            (F.col("l_orderkey") % 2).cast("int").alias("half"),
            F.md5(F.col("l_partkey").cast("string")).alias("h"),
        )
        .distinct()
    )
    w_half = Window.partitionBy("l_returnflag", "half").orderBy(
        F.col("h").asc_nulls_last()
    )
    part_k = d.withColumn("rn", F.row_number().over(w_half)).filter(
        F.col("rn") <= _K
    )
    merged = part_k.select("l_returnflag", "h").distinct()
    w_grp = Window.partitionBy("l_returnflag").orderBy(F.col("h").asc_nulls_last())
    merged_kth = (
        merged.withColumn("rn", F.row_number().over(w_grp))
        .filter(F.col("rn") == _K)
        .select("l_returnflag", F.col("h").alias("mh"))
    )
    direct_kth = (
        li.select("l_returnflag", F.md5(F.col("l_partkey").cast("string")).alias("h"))
        .distinct()
        .withColumn("rn", F.row_number().over(w_grp))
        .filter(F.col("rn") == _K)
        .select("l_returnflag", F.col("h").alias("dh"))
    )
    return merged_kth.join(direct_kth, "l_returnflag").select(
        "l_returnflag",
        F.expr(f"{_NUM} DIV ({_v32_spark('mh')})").cast("long").alias("est_merged"),
        F.expr(f"{_NUM} DIV ({_v32_spark('dh')})").cast("long").alias("est_direct"),
        (F.col("mh") == F.col("dh")).cast("int").alias("merge_exact"),
    )


# --- Count-Min sketch: d=4 hash rows × w=256 buckets over token frequencies.
_CM_D = 4
_CM_W = 256


def _cm_bucket_sql(tok: str, j: int) -> str:
    """Bucket index of `tok` in hash row j — v32 of md5(tok || ':j') mod w,
    identical arithmetic in both engines."""
    return f"(({_v32_sql(f'md5({tok} || chr(58) || {j!r})')}) % {_CM_W})"


def _cm_bucket_spark(tok: str, j: int) -> str:
    return f"(({_v32_spark(f'md5({tok} || chr(58) || {j!r})')}) % {_CM_W})"


@query(
    "q_sketch_countmin",
    oracle=f"""
WITH tok AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS token
  FROM documents
),
cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
cm AS (
  SELECT j, bucket, sum(c) AS cell FROM (
    {" UNION ALL ".join(f"SELECT {j} AS j, {_cm_bucket_sql('token', str(j))} AS bucket, c FROM cnt" for j in range(_CM_D))}
  ) GROUP BY j, bucket
),
probes AS (
  SELECT token, c AS exact_cnt FROM cnt
  ORDER BY md5(token) ASC NULLS LAST, token ASC NULLS LAST
  LIMIT 5
),
est AS (
  SELECT p.token, p.exact_cnt, min(cm.cell) AS cm_est
  FROM probes p
  JOIN cm ON {" OR ".join(f"(cm.j = {j} AND cm.bucket = {_cm_bucket_sql('p.token', str(j))})" for j in range(_CM_D))}
  GROUP BY p.token, p.exact_cnt
)
SELECT token, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(cm_est AS BIGINT) AS cm_est,
       CAST(cm_est >= exact_cnt AS INTEGER) AS no_undercount
FROM est
""",
)
def q_sketch_countmin(spark, sf_dir):
    """Count-Min sketch over token frequencies — deterministic like the KMV
    sketch (md5-derived bucket hashes), so the WHOLE sketch hash-matches the
    oracle and its one-sided-error guarantee (estimate >= exact, always) is
    verified as data, not trusted. d=4 hash rows × w=256 counters; probes
    are five md5-ranked tokens compared against their exact counts.

    Scale shape: token counting is one map-combined hash-agg; the sketch is
    d tiny (j, bucket) aggregates over the COUNTED tokens (d×w = 1024 cells
    total regardless of corpus size — the constant-memory property that
    makes CM the streaming heavy-hitter structure); probing joins the
    constant-size cell table. At 100 TB the cells fit in one broadcast and
    the sketch merges across partitions by cell-wise addition."""
    d = load_tables(spark, sf_dir)["documents"]
    tok = d.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
        ).alias("token")
    )
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    # r14 (guide §2.4): one explode over the d row-hashes — the former
    # d-way union evaluated the tokenize+count subtree once per hash row.
    # explode(array(struct(j, bucket_j))) yields the same (j, bucket, c)
    # multiset from ONE evaluation of cnt.
    cells = cnt.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.expr(_cm_bucket_spark("token", str(j))).alias("bucket"),
                    )
                    for j in range(_CM_D)
                ]
            )
        ).alias("_jb"),
        "c",
    ).select(F.col("_jb.j").alias("j"), F.col("_jb.bucket").alias("bucket"), "c")
    cm = cells.groupBy("j", "bucket").agg(F.sum("c").alias("cell"))
    # Probe selection is top-5 under the md5 total order — a bounded
    # TakeOrderedAndProject (per-partition top-k + driver merge), never a
    # partitionBy-less row_number window (which would single-partition the
    # whole token-count table).
    probes = (
        cnt.orderBy(F.md5("token").asc_nulls_last(), F.col("token").asc_nulls_last())
        .limit(5)
        .select("token", F.col("c").alias("exact_cnt"))
    )
    cond = None
    for j in range(_CM_D):
        this = (F.col("j") == j) & (
            F.col("bucket") == F.expr(_cm_bucket_spark("token", str(j)))
        )
        cond = this if cond is None else (cond | this)
    est = (
        probes.join(F.broadcast(cm), cond)
        .groupBy("token", "exact_cnt")
        .agg(F.min("cell").alias("cm_est"))
    )
    return est.select(
        "token",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("cm_est").cast("long").alias("cm_est"),
        (F.col("cm_est") >= F.col("exact_cnt")).cast("int").alias("no_undercount"),
    )


# --- Bloom filter: m=8192 bits, k=4 md5-derived positions per element.
_BF_M = 8192
_BF_K = 4


def _bf_pos_sql(h: str, j: int) -> str:
    """Bit position j of element-hash `h` — v32 of md5(h || ':j') mod m;
    the oracle-side mirror of operators/bloom.py's _pos_expr."""
    return f"(({_v32_sql(f'md5({h} || chr(58) || {j!r})')}) % {_BF_M})"


@query(
    "q_sketch_bloom",
    oracle=f"""
WITH s AS (
  SELECT doc_id, source, md5(lower(text)) AS th,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
test_el AS (SELECT DISTINCT th FROM s WHERE split = 'test'),
bits AS (
  SELECT DISTINCT pos FROM (
    {" UNION ALL ".join(f"SELECT {_bf_pos_sql('th', j)} AS pos FROM test_el" for j in range(_BF_K))}
  )
),
probe AS (
  SELECT doc_id, source, th, pos FROM (
    {" UNION ALL ".join(f"SELECT doc_id, source, th, {_bf_pos_sql('th', j)} AS pos FROM s WHERE split = 'train'" for j in range(_BF_K))}
  )
),
hits AS (
  SELECT doc_id, source, th, count(*) AS nset
  FROM probe WHERE pos IN (SELECT pos FROM bits)
  GROUP BY doc_id, source, th
),
flagged AS (SELECT doc_id, source, th FROM hits WHERE nset = {_BF_K}),
exact AS (SELECT doc_id FROM flagged WHERE th IN (SELECT th FROM test_el))
SELECT s.source,
       count(*) AS n_train_docs,
       count(f.doc_id) AS n_flagged,
       count(e.doc_id) AS n_exact_dup,
       CAST(count(f.doc_id) - count(e.doc_id) AS BIGINT) AS n_false_pos
FROM s
LEFT JOIN flagged f ON s.doc_id = f.doc_id
LEFT JOIN exact e   ON s.doc_id = e.doc_id
WHERE s.split = 'train'
GROUP BY s.source
""",
)
def q_sketch_bloom(spark, sf_dir):
    """Bloom-filter membership gate (the streaming/broadcast arm of
    train-vs-test decontamination): the TEST split's normalized-text hashes
    populate an m=8192-bit, k=4 filter; every TRAIN document probes it, and
    a document is flagged iff all k of its positions are set. Because the
    bit positions are md5-derived (the Count-Min bucket scheme) the WHOLE
    filter is deterministic, so the oracle verifies the filter's defining
    guarantees as data: every exact duplicate is flagged (no false
    negatives, ever) and the false-positive overshoot is exactly the
    flagged-minus-exact remainder, reported per source.

    Scale shape: the filter is a constant-size distinct-position set
    (<= m rows regardless of test-set size) — broadcast once, probed by a
    single pass over the corpus with no shuffle on the probe side beyond
    the per-doc count. This is the shape Spark's own runtime bloom-join
    injection uses; here it is a first-class operator with its error
    accounting checked. At 100 TB: build on the (small) eval corpus,
    broadcast, gate the (huge) train corpus map-side."""
    d = load_tables(spark, sf_dir)["documents"]
    s = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).select(
        "doc_id", "source", F.md5(F.lower(F.col("text"))).alias("th"), "split"
    )
    from pkg2_spark.operators.bloom import bloom_build, bloom_probe

    test_el = s.filter(F.col("split") == "test").select("th").distinct()
    bits = bloom_build(test_el, "th", m=_BF_M, k=_BF_K)
    train = s.filter(F.col("split") == "train")
    flagged = bloom_probe(
        train.select("doc_id", "source", "th"), bits, "th", m=_BF_M, k=_BF_K
    )
    exact = flagged.join(F.broadcast(test_el), "th", "leftsemi").select("doc_id")
    return (
        train.join(flagged.select("doc_id", F.lit(1).alias("fl")), "doc_id", "left")
        .join(exact.select("doc_id", F.lit(1).alias("ex")), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.count("fl").alias("n_flagged"),
            F.count("ex").alias("n_exact_dup"),
            (F.count("fl") - F.count("ex")).cast("long").alias("n_false_pos"),
        )
    )


# --- HyperLogLog: m=256 registers, md5-derived 32-bit hash split into an
# 8-bit bucket + 24-bit rank window. ALPHA_E6 is the Flajolet et al. 2007
# bias constant alpha_256 = 0.7213/(1 + 1.079/256) in e6 fixed point — a
# spec constant, identical in both engines, so the raw estimator
# NUMER DIV S is exact BIGINT arithmetic end to end (no libm anywhere:
# floor(log2(w)) is spelled length(bin(w)), verified char-identical in
# Spark and DuckDB including the minimal-width and bin(0)='0' cases).
_HLL_M = 256
_HLL_ALPHA_E6 = 718273
# alpha * m^2 * 2^25 * 1e-6 happens at the single final DIV: numerator
# 718273 * 65536 * 2^25 ~= 1.58e18 stays under 2^63.
_HLL_NUMER = _HLL_ALPHA_E6 * _HLL_M * _HLL_M * (1 << 25)


@query(
    "q_sketch_hll",
    oracle=f"""
WITH el AS (
  SELECT DISTINCT l_returnflag AS grp, l_partkey AS el FROM lineitem
),
h AS (
  SELECT grp, el,
         ({_v32_sql("md5(CAST(el AS VARCHAR))")}) AS v32
  FROM el
),
reg AS (
  SELECT grp, v32 % {_HLL_M} AS bucket,
         max(CASE WHEN v32 // {_HLL_M} = 0 THEN 25
             ELSE 25 - length(bin(v32 // {_HLL_M})) END) AS m_j
  FROM h GROUP BY grp, v32 % {_HLL_M}
),
s AS (
  SELECT grp,
         CAST(sum(CAST(1 AS BIGINT) << (25 - m_j))
              + ({_HLL_M} - count(*)) * (CAST(1 AS BIGINT) << 25)
              AS BIGINT) AS harm
  FROM reg GROUP BY grp
),
exact AS (SELECT grp, count(*) AS n_exact FROM el GROUP BY grp)
SELECT e.grp AS l_returnflag,
       CAST(e.n_exact AS BIGINT) AS n_exact,
       CAST({_HLL_NUMER} // s.harm // 1000000 AS BIGINT) AS hll_est,
       CAST(abs({_HLL_NUMER} // s.harm // 1000000 - e.n_exact) * 10000
            // e.n_exact AS BIGINT) AS err_bp,
       CAST(abs({_HLL_NUMER} // s.harm // 1000000 - e.n_exact) * 10000
            // e.n_exact <= 2500 AS INTEGER) AS within_3sigma
FROM exact e JOIN s ON e.grp = s.grp
""",
)
def q_sketch_hll(spark, sf_dir):
    """HyperLogLog distinct-partkey estimate per returnflag (the same
    domain q_sketch_kmv estimates, so the two sketch families are directly
    comparable), deterministic enough to hash-match: registers come from
    the md5-derived v32 (8-bit bucket, rank = 25 - MSB position of the
    24-bit window, via length(bin(w)) — no libm log2), and the raw
    Flajolet estimator alpha*m^2/sum(2^-M_j) is evaluated as one BIGINT
    DIV against the e6 bias constant. The oracle recomputes the IDENTICAL
    sketch AND the exact distinct count, so the estimator's accuracy
    contract (within 2500 bp ~ 3 sigma for m=256, sigma = 1.04/sqrt(m) ~
    6.5%) is verified as data per group. The raw estimator is used without
    the small-range linear-counting correction (which needs ln) — this
    domain is >> 2.5m, outside the correction regime, and the
    within_3sigma column proves the bound held.

    Scale shape: one distinct hash-agg (map-side combined, shuffle carries
    one row per distinct (group, element)), then a <= m-row-per-group
    register agg — the sketch is CONSTANT 256 registers per group and
    merges across partitions/days by register-wise max, which is the whole
    point of HLL at 100 TB: a corpus-wide distinct count with 256 bytes of
    state per group and no second pass. (The distinct pre-agg here is only
    to share the exact-count subtree; pure sketch builds skip it and fold
    raw occurrences straight into registers.)"""
    li = load_tables(spark, sf_dir)["lineitem"]
    el = li.select(
        F.col("l_returnflag").alias("grp"), F.col("l_partkey").alias("el")
    ).distinct()
    h = el.select(
        "grp", "el",
        F.expr(_v32_spark("md5(CAST(el AS STRING))")).alias("v32"),
    )
    reg = (
        h.select(
            "grp",
            (F.col("v32") % _HLL_M).alias("bucket"),
            F.expr(
                f"CASE WHEN v32 DIV {_HLL_M} = 0 THEN 25 "
                f"ELSE 25 - length(bin(v32 DIV {_HLL_M})) END"
            ).alias("rho"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    s = reg.groupBy("grp").agg(
        F.expr(
            f"CAST(sum(CAST(1 AS BIGINT) << (25 - m_j))"
            f" + ({_HLL_M} - count(*)) * (CAST(1 AS BIGINT) << 25) AS BIGINT)"
        ).alias("harm")
    )
    exact = el.groupBy("grp").agg(F.count(F.lit(1)).alias("n_exact"))
    return exact.join(s, "grp").select(
        F.col("grp").alias("l_returnflag"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.expr(f"{_HLL_NUMER} DIV harm DIV 1000000").cast("long").alias("hll_est"),
        F.expr(
            f"CAST(abs({_HLL_NUMER} DIV harm DIV 1000000 - n_exact) * 10000"
            f" DIV n_exact AS BIGINT)"
        ).alias("err_bp"),
        F.expr(
            f"CAST(abs({_HLL_NUMER} DIV harm DIV 1000000 - n_exact) * 10000"
            f" DIV n_exact <= 2500 AS INT)"
        ).alias("within_3sigma"),
    )


@query(
    "q_sketch_bitmap",
    oracle="""
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct
FROM lineitem GROUP BY l_returnflag
""",
)
def q_sketch_bitmap(spark, sf_dir):
    """EXACT mergeable distinct count via Spark's native bitmap aggregates
    — the third point on the distinct-count cost spectrum next to KMV and
    HLL (both approximate): bitmap_construct_agg builds a fixed 4KB bitmap
    per (group, 32k-id bucket), bitmap_or_agg merges buckets (OR is
    commutative/idempotent — the same mergeability HLL gets from max, but
    lossless), bitmap_count reads off the cardinality. The oracle is a
    plain COUNT(DISTINCT): two entirely different implementations, one
    answer — the strongest form of differential check.

    Scale shape: the inner agg is map-side combinable (bitmaps OR within a
    partition before the shuffle), the shuffle carries one <= 4KB bitmap
    per (group, bucket) instead of one row per distinct value, and the
    outer agg sums the per-bucket cardinalities (bitmap_or_agg is ONLY for
    merging partials of the SAME bucket — ORing across buckets would alias
    ids 32k apart, measured as an off-by-duplicates undercount before this
    spelling). The dense-id assumption is the tradeoff: ids must pack into
    32k-wide buckets (true for surrogate keys like partkey); for
    sparse/hashed domains fall back to HLL/KMV."""
    li = load_tables(spark, sf_dir)["lineitem"]
    b = li.groupBy(
        "l_returnflag",
        F.expr("bitmap_bucket_number(l_partkey)").alias("bkt"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))").alias("bm")
    )
    return b.groupBy("l_returnflag").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_distinct")
    )


@query(
    "q_sketch_kmv_intersect",
    oracle=f"""
WITH d AS (
  SELECT DISTINCT l_returnflag AS g, md5(CAST(l_orderkey AS VARCHAR)) AS h
  FROM lineitem
),
kmin AS (
  SELECT g, h FROM d
  QUALIFY row_number() OVER (PARTITION BY g ORDER BY h ASC NULLS LAST) <= {_K}
),
syn AS (SELECT g, list(h ORDER BY h) AS ks FROM kmin GROUP BY g),
pairs AS (
  SELECT a.g AS g_a, b.g AS g_b, a.ks AS ka, b.ks AS kb,
         list_sort(list_distinct(list_concat(a.ks, b.ks)))[1:{_K}] AS comb
  FROM syn a JOIN syn b ON a.g < b.g
),
est AS (
  SELECT g_a, g_b,
         len(list_intersect(comb, list_intersect(ka, kb))) AS n_match,
         CAST({_NUM} // ({_v32_sql(f'comb[{_K}]')}) AS BIGINT) AS est_union
  FROM pairs
),
exact AS (
  SELECT a.g AS g_a, b.g AS g_b, count(*) AS nx
  FROM (SELECT DISTINCT l_returnflag AS g, l_orderkey AS o FROM lineitem) a
  JOIN (SELECT DISTINCT l_returnflag AS g, l_orderkey AS o FROM lineitem) b
    ON a.o = b.o AND a.g < b.g
  GROUP BY a.g, b.g
)
SELECT e.g_a, e.g_b, CAST(e.n_match AS INTEGER) AS n_match, e.est_union,
       CAST((e.n_match * e.est_union) // {_K} AS BIGINT) AS est_intersect,
       CAST(x.nx AS BIGINT) AS n_exact,
       CAST(abs((e.n_match * e.est_union) // {_K} - x.nx) * 10000 // x.nx
            AS BIGINT) AS err_bp
FROM est e JOIN exact x ON e.g_a = x.g_a AND e.g_b = x.g_b
""",
)
def q_sketch_kmv_intersect(spark, sf_dir):
    """KMV set-INTERSECTION estimation (Beyer et al.'s K-Minimum-Values
    set-operation estimators) — the sketch answer to "how much do these
    two partitions/days/corpora overlap?" without a distinct-pair join:
    per-group synopses (k smallest hashes of each group's orderkey set)
    combine row-locally — union synopsis = k smallest of the two lists'
    union, match fraction ρ = |combined ∩ both synopses| / k, and
    est_intersect = (n_match · est_union) div k, all exact integer
    arithmetic after md5. The exact intersection (a distinct self-join)
    rides along as the QA arm with the error in basis points — same
    contract as q_sketch_kmv's est/exact/err row.

    Scale shape: each synopsis is the q_sketch_kmv two-stage k-min (every
    task's state ≤ k hashes, merge is an array fold); the pair combine is
    ROW-LOCAL list arithmetic on k-sized arrays — estimating the overlap
    of two 10-billion-key sets moves 2·k hashes, not the keys. The exact
    arm (the only corpus-sized join) exists for the QA row and is dropped
    in production use.

    Determinism: md5 order statistics and integer DIV throughout — the
    whole sketch is deterministic, so it hash-matches the oracle exactly
    (the q_sketch_kmv argument)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    d = (
        li.select(
            F.col("l_returnflag").alias("g"),
            F.md5(F.col("l_orderkey").cast("string")).alias("h"),
        )
        .distinct()
    )
    part = d.groupBy("g", F.pmod(F.xxhash64("h"), F.lit(64)).alias("salt")).agg(
        F.slice(F.array_sort(F.collect_list("h")), 1, _K).alias("ks")
    )
    syn = part.groupBy("g").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("ks"))), 1, _K).alias("ks")
    )
    pairs = self_pairs(syn, "g", [], "g_a", "g_b", carry=["ks"]).select(
        "g_a",
        "g_b",
        "ks_a",
        "ks_b",
        F.expr(f"slice(array_sort(array_distinct(concat(ks_a, ks_b))), 1, {_K})").alias(
            "comb"
        ),
    )
    est = pairs.select(
        "g_a",
        "g_b",
        F.expr("size(array_intersect(comb, array_intersect(ks_a, ks_b)))")
        .cast("int")
        .alias("n_match"),
        F.expr(f"CAST({_NUM} div ({_v32_spark(f'element_at(comb, {_K})')}) AS BIGINT)").alias(
            "est_union"
        ),
    )
    keys = li.select(F.col("l_returnflag").alias("g"), F.col("l_orderkey").alias("o")).distinct()
    exact = (
        self_pairs(keys, "g", ["o"], "g_a", "g_b")
        .groupBy("g_a", "g_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    return (
        est.join(exact, ["g_a", "g_b"])
        .select(
            "g_a",
            "g_b",
            "n_match",
            "est_union",
            F.expr(f"CAST((n_match * est_union) div {_K} AS BIGINT)").alias(
                "est_intersect"
            ),
            "n_exact",
            F.expr(
                f"CAST(abs((n_match * est_union) div {_K} - n_exact) * 10000"
                " div n_exact AS BIGINT)"
            ).alias("err_bp"),
        )
    )


@query(
    "q_sketch_join_card",
    oracle=f"""
WITH s_join AS (
  SELECT count(*) AS c
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 4)
        < '{_frac_to_threshold(_JOIN_CARD_FRAC)}'
),
ex AS (
  SELECT count(*) AS c
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
SELECT CAST((s_join.c * {_BUCKETS}) // {_JC_N} AS BIGINT) AS est_rows,
       CAST(ex.c AS BIGINT) AS exact_rows,
       CAST(abs((s_join.c * {_BUCKETS}) // {_JC_N} - ex.c) * 1000 // ex.c AS BIGINT)
         AS err_milli,
       (abs((s_join.c * {_BUCKETS}) // {_JC_N} - ex.c) * 1000 // ex.c) < 150
         AS within_15pct
FROM s_join, ex
""",
)
def q_sketch_join_card(spark, sf_dir):
    """JOIN-CARDINALITY estimation by COORDINATED key sampling — the
    optimizer-statistics question ("how big will orders ⋈ lineitem
    be?") answered from a 5% sample: both sides keep a key iff
    md5(key) < the shared threshold, so a sampled key brings ALL its
    rows from BOTH sides and the sample join counts
    Σ_{v sampled} fA(v)·fB(v) — an unbiased 1/p estimate of the true
    Σ fA·fB (independent Bernoulli row samples would square the
    inclusion probability and break frequency correlation). Scaled by
    the exact rational _BUCKETS/_JC_N (65536/3276 at the declared 5%
    fraction); the oracle pins est, exact, and the
    error bound (≤1.5% at sf0.1, tightening with scale — the estimator
    arm a CBO would consult instead of ever running the exact arm).

    Scale: two row-local hash filters (5% of each side's rows reach the
    shuffle) + one equi-join on the sampled keys; the exact arm here
    exists only to grade the estimate, exactly like q_agg_approx_cd's
    _check companion."""
    t = load_tables(spark, sf_dir)
    thr = _frac_to_threshold(_JOIN_CARD_FRAC)
    # The inverse scale _BUCKETS/_JC_N is derived from the SAME
    # (frac, BUCKETS) pair as the filter threshold — a change to either
    # cannot silently bias the estimator (r11 advice; the oracle
    # interpolates the same constants).
    o_s = t["orders"].filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4) < thr
    )
    l_s = t["lineitem"].filter(
        F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 4) < thr
    )
    samp = o_s.join(l_s, F.col("o_orderkey") == F.col("l_orderkey")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    exact = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_ex"))
    )
    est = F.expr(f"(c * CAST({_BUCKETS} AS BIGINT)) div {_JC_N}")
    err = F.expr(
        f"abs((c * CAST({_BUCKETS} AS BIGINT)) div {_JC_N} - c_ex) * 1000 div c_ex"
    )
    return (
        samp.crossJoin(F.broadcast(exact))
        .select(
            est.cast("long").alias("est_rows"),
            F.col("c_ex").alias("exact_rows"),
            err.cast("long").alias("err_milli"),
            (err < 150).alias("within_15pct"),
        )
    )
