"""Scale-probe DECADE: sf0.1 -> sf1 (10x) -> sf10 (100x) for the heavy family.

Usage: python scripts/make_sf1.py && python scripts/make_sf1.py --sf10 &&
       python scripts/scale_probe_decade.py [--out SCALE_PROBE_DECADE.md]

The standard probe (scripts/scale_probe.py) spans sf0.001-0.1; this one
validates the claims that only bite at density — capped band-pair volume,
contraction/component growth, IVF cell flatness — one decade further on
the tmp_io/sf1 replica set (near-duplicate replicas, so band buckets are
~10x denser: the adversarial direction), and a SECOND decade (tmp_io/sf10)
for the vector family, where the round-8 three-level quantizer must hold
final cells ≈ 256 while the retired one-level formula would have kept
growing them. Reports wall-time ratios per 10x data plus the STRUCTURAL
counters behind the claims:

- candidate-pair counts out of the capped sign-LSH/minhash joins (the
  quantity the _BUCKET_CAP bounds — superlinear growth here is the bug);
- IVF codebook size / mean / max FINAL cell size across all three scales
  (three-level k must hold cells ~constant in BOTH decades);
- component count out of dedup resolution (sanity that the denser corpus
  still resolves).

The skew family (q_join_salted / q_agg_salted / q_stream_rt_join) rides
the first decade: salting claims deserve the same empirical treatment as
the dedup/ANN family (r6 VERDICT task #6).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402

PROBES = [
    "q_llm_dedup_exact",
    "q_llm_minhash",
    "q_llm_cossim_lsh",
    "q_llm_dedup_resolve",
    "q_llm_keep_best",
    "q_llm_semdedup",
    "q_llm_winnow_dup",
    "q_llm_ann_ivf",
    "q_graph_cc",
    "q_ts_ema",
    # skew family: salted join/agg + the stream-stream interval join
    "q_join_salted",
    "q_agg_salted",
    "q_stream_rt_join",
    # round-8 additions: the IVFADC composite (residual join + row-local
    # PQ encode + cell-keyed ADC on top of the timed tree construction)
    # and the two linear text passes (explode -> hash-agg topologies)
    "q_vec_ivfpq",
    "q_llm_unigram_lm",
    "q_llm_span_dedup",
    # q_llm_bigram_lm rides along (three LM joins over the pair explode);
    # q_llm_lsh_calib is deliberately NOT probed: its ground-truth side is
    # the exact source-blocked pair join (the embed_neardup-style exact
    # diagnostic arm, run on a sampled block in production), so decade
    # ratios would measure the documented O(block²) truth set, not a
    # production pass.
    "q_llm_bigram_lm",
]

# second decade (sf1 -> sf10): the vector/dedup family whose flatness
# claims the three-level quantizer carries
PROBES_DEC2 = [
    "q_llm_ann_ivf",
    "q_llm_semdedup",
    "q_llm_winnow_dup",
    "q_vec_ivfpq",
]

# third decade (sf10 -> sf100, EMBEDDINGS-ONLY replica — make_sf1.py
# --sf100-vec): just the pure-vector operators; winnow is a text op and the
# sf100 replica deliberately carries no documents.
PROBES_DEC3 = [
    "q_llm_ann_ivf",
    "q_llm_semdedup",
    "q_vec_ivfpq",
]

# DIVERSE decades (make_sf1.py --diverse): token-PERMUTED replicas — the
# corpus grows in content, not dup mass. The near-dup replicas above are
# the adversarial direction for hot-bucket caps; they also inflate dup
# mass superlinearly BY CONSTRUCTION, which makes span/winnow decade
# ratios there measure the replica artifact, not the operator (r8 verdict
# weak flag #2). On diverse data shingle/fingerprint buckets grow in
# NUMBER, so the linear claim is provable.
PROBES_DIVERSE = [
    "q_llm_span_dedup",
    "q_llm_winnow_dup",
    # r10 (r9 verdict #5): the >3x/decade first-decade rows get their
    # second point here — the two LM passes are document ops (explode ->
    # hash-agg -> join topologies) and cossim_lsh now has DIVERSE
    # embeddings to read (make_sf1.py --diverse writes dimension-permuted
    # vectors, not symlinks, since r10).
    "q_llm_unigram_lm",
    "q_llm_bigram_lm",
    "q_llm_cossim_lsh",
]


def emit_recall_tuning_tables(spark, scales: list[str]) -> list[str]:
    """The r10 ANN tuning surface: recall@5 AND search wall-clock for
    n_probe in {1, 3, 8}, per corpus. Descent is PINNED at 8 across the
    three points so the ranked slot-cell list is identical and the beams
    are nested — the measured recall is structurally monotone and the
    three points are one curve, not three incomparable searches. The
    tree is memoized (construction cost is the flatness/timed tables'
    subject); timing here is the per-query SEARCH cost the n_probe knob
    actually controls — median of 3 warm runs."""
    from pkg2_spark.catalog import load_tables
    from pkg2_spark.operators.similarity import knn_bruteforce
    from pkg2_spark.queries.llm import ann_multiprobe, ivf_invalidate

    n_probes = (1, 3, 8)
    lines = ["", "## ANN recall@5 vs n_probe (5 probes, descent pinned at 8, "
             "vs exact brute force; search-only time, memoized tree)", "",
             "| corpus | " + " | ".join(
                 f"n_probe={n} recall | time" for n in n_probes) + " |",
             "|---|" + "---|---|" * len(n_probes)]
    for sf in scales:
        ivf_invalidate()
        e = load_tables(spark, sf)["embeddings"]
        probes = e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_embedding"),
        )
        exact = {
            (r["probe_id"], r["vec_id"])
            for r in knn_bruteforce(
                e.select("vec_id", "embedding"), probes, k=5, dim=64
            ).select("probe_id", "vec_id").collect()
        }
        cells = []
        for n in n_probes:
            df = ann_multiprobe(e, n_probe=n, descent=8)
            hits = {
                (r["probe_id"], r["vec_id"])
                for r in df.select("probe_id", "vec_id").collect()
            }
            rec = round(len(hits & exact) / max(len(exact), 1), 3)
            times = []
            for _ in range(3):
                t0 = time.monotonic()
                df.count()
                times.append(time.monotonic() - t0)
            cells.append(f"{rec} | {statistics.median(times):.3f}s")
        lines.append(f"| {Path(sf).name} | " + " | ".join(cells) + " |")
        print(lines[-1])
    return lines


def main() -> int:
    out_path = None
    args = sys.argv[1:]
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]

    from pkg2_spark.catalog import load_tables
    from pkg2_spark.operators.lsh import banded_pairs
    from pkg2_spark.operators.similarity import sign_lsh_bands
    from pkg2_spark.queries.llm import (
        _BUCKET_CAP,
        _ivf_assign,
        _ivf_ks,
        ivf_invalidate,
    )
    from pkg2_spark.queries.relational import IO_DIR
    from pkg2_spark.registry import all_queries
    from pkg2_spark.session import get_session

    sfs = ["/root/testdata/sf0.1", str(Path(IO_DIR) / "sf1")]
    sf10 = str(Path(IO_DIR) / "sf10")
    have_sf10 = (Path(sf10) / "embeddings.parquet").exists()
    # Probe-only heap bump: the product default (8g) is right-sized for the
    # driver's sf0.1 runs, but the sf100 vector probes put ~2M-vector
    # shuffle+sort buffers in one JVM and 8g dies in GCLocker retries.
    # A real cluster spreads this across executors; one local JVM standing
    # in for the fleet gets the fleet's memory.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_session(app_name="pkg2_spark_decade_probe")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    only_scales = None
    if "--scales" in args:
        only_scales = set(args[args.index("--scales") + 1].split(","))
    if "--queries" in args:
        # filter every probe list (rerun a clipped row without repaying
        # the whole table)
        keep = set(args[args.index("--queries") + 1].split(","))
        for lst in (PROBES, PROBES_DEC2, PROBES_DEC3, PROBES_DIVERSE):
            lst[:] = [n for n in lst if n in keep]

    def recall_scales() -> list[str]:
        # replica decades first, then the diverse decades (which carry
        # dimension-permuted embeddings once make_sf1.py --diverse has
        # run on an r10+ tree — skip them while they are still symlinks
        # back to the source decade, which would measure sf0.1 twice).
        # sfs[1] (tmp_io/sf1) gets the same existence guard as every other
        # generated corpus — --recall-only must not crash on a tree where
        # make_sf1.py has not run yet.
        out = [sfs[0]]
        if (Path(sfs[1]) / "embeddings.parquet").exists():
            out.append(sfs[1])
        for name in ("sf10", "sf100"):
            p = Path(IO_DIR) / name / "embeddings.parquet"
            if p.exists():
                out.append(str(p.parent))
        for name in ("sf1d", "sf10d"):
            p = Path(IO_DIR) / name / "embeddings.parquet"
            if p.exists() and not p.is_symlink():
                out.append(str(p.parent))
        if only_scales is not None:
            out = [s for s in out if Path(s).name in only_scales]
        return out

    if "--recall-only" in args:
        lines = [
            "# SCALE_PROBE_RECALL — ANN recall@5 / latency vs n_probe",
            "",
            "Standalone run of the r10 tuning-surface table (the full",
            "decade probe also embeds it). Replica decades (near-dup,",
            "exact-tie-heavy: the occupancy-cap worst case) and diverse",
            "decades (dimension-permuted embeddings: content growth)",
            "measured with the SAME pinned-descent beam.",
        ] + emit_recall_tuning_tables(spark, recall_scales())
        text = "\n".join(lines)
        Path(out_path or "SCALE_PROBE_RECALL.md").write_text(text + "\n")
        return 0

    def timed(name: str, sf: str) -> float:
        # ivf_invalidate before EVERY run: the process-wide quantizer
        # memo (r8) would otherwise serve runs 2..N from the checkpointed
        # assignment and the probe would stop measuring CONSTRUCTION —
        # the quantity whose scaling this probe exists to bound.
        #
        # Contention guard: this sandbox sees multi-minute ambient
        # contention waves (measured round 8: a mid-probe wave inflated
        # three queries' sf1 runs ~8x while everything before and after
        # was normal). A wave shows up as a wide spread across the three
        # runs — retry the whole measurement (up to twice) when
        # max/min > 2.5, and keep the FASTEST attempt's median: ratios
        # here bound algorithmic growth, so the least-contended
        # measurement is the signal.
        fn = queries[name]
        best = None
        for attempt in range(3):
            ivf_invalidate()
            fn(spark, sf).count()
            times = []
            for _ in range(3):
                ivf_invalidate()
                t0 = time.monotonic()
                fn(spark, sf).count()
                times.append(time.monotonic() - t0)
            med = statistics.median(times)
            best = med if best is None else min(best, med)
            if max(times) / min(times) <= 2.5:
                break
        return best

    def diverse_lines() -> list[str]:
        sf1d = str(Path(IO_DIR) / "sf1d")
        sf10d = str(Path(IO_DIR) / "sf10d")
        if not (
            (Path(sf1d) / "documents.parquet").exists()
            and (Path(sf10d) / "documents.parquet").exists()
        ):
            return []
        out = ["", "## Diverse-corpus decades (token-permuted documents + "
               "dimension-permuted embeddings, sf0.1 -> sf1d -> sf10d)", "",
               "loadavg is the 1-min machine load sampled right after each",
               "query's sf10d timing — ambient contention waves inflate",
               "decade ratios ~1.5-2x (r12 verdict #4); compare against the",
               "linear control q_llm_unigram_lm before reading a ratio as",
               "superlinear.", "",
               "| query | sf0.1 | sf1d | ratio | sf10d | ratio | loadavg |",
               "|---|---|---|---|---|---|---|"]
        for name in PROBES_DIVERSE:
            t1 = timed(name, sfs[0])
            t2 = timed(name, sf1d)
            t3 = timed(name, sf10d)
            load = os.getloadavg()[0]
            out.append(
                f"| {name} | {t1:.3f}s | {t2:.3f}s | {t2 / t1:.2f}x"
                f" | {t3:.3f}s | {t3 / t2:.2f}x | {load:.2f} |"
            )
            print(out[-1])
        return out

    if "--diverse-only" in args:
        text = "\n".join(
            ["# SCALE_PROBE_DIVERSE — diverse-corpus decade ratios "
             "(standalone run; the full decade probe embeds the same "
             "table)"] + diverse_lines()
        )
        Path(out_path or "SCALE_PROBE_DIVERSE.md").write_text(text + "\n")
        return 0

    lines = [
        "# SCALE_PROBE_DECADE — sf0.1 -> sf1 (10x) -> sf10 (100x, near-dup replicas)",
        "",
        "Probe data: scripts/make_sf1.py (10 replicas of sf0.1; documents are",
        "NEAR-duplicates and embeddings sign-stable, so band buckets are ~10x",
        "denser — the adversarial direction for pair joins) and --sf10 (the",
        "same construction chained one decade further). Median of 3 warm",
        "runs; ratio ≈10x = linear in data, >>10x = superlinear red flag.",
        "",
        "| query | sf0.1 | sf1 | ratio/10x |",
        "|---|---|---|---|",
    ]
    for name in PROBES:
        t1 = timed(name, sfs[0])
        t2 = timed(name, sfs[1])
        lines.append(f"| {name} | {t1:.3f}s | {t2:.3f}s | {t2 / t1:.2f}x |")
        print(lines[-1])

    if have_sf10:
        lines += ["", "## Second decade: sf1 -> sf10 (vector family)", "",
                  "| query | sf1 | sf10 | ratio/10x |", "|---|---|---|---|"]
        dec2_sf10: dict[str, float] = {}
        for name in PROBES_DEC2:
            t1 = timed(name, sfs[1])
            t2 = timed(name, sf10)
            dec2_sf10[name] = t2
            lines.append(f"| {name} | {t1:.3f}s | {t2:.3f}s | {t2 / t1:.2f}x |")
            print(lines[-1])

    sf100 = str(Path(IO_DIR) / "sf100")
    have_sf100 = have_sf10 and (Path(sf100) / "embeddings.parquet").exists()
    if have_sf100:
        lines += ["", "## Third decade: sf10 -> sf100 "
                  "(embeddings-only replica, pure-vector operators)", "",
                  "| query | sf10 | sf100 | ratio/10x |", "|---|---|---|---|"]
        for name in PROBES_DEC3:
            t1 = dec2_sf10[name]
            t2 = timed(name, sf100)
            lines.append(f"| {name} | {t1:.3f}s | {t2:.3f}s | {t2 / t1:.2f}x |")
            print(lines[-1])

    lines += diverse_lines()

    lines += ["", "## Structural counters", "",
              "| counter | sf0.1 | sf1 | ratio |", "|---|---|---|---|"]

    def counter(label, fn):
        vals = [fn(sf) for sf in sfs]
        ratio = vals[1] / vals[0] if vals[0] else float("nan")
        lines.append(f"| {label} | {vals[0]} | {vals[1]} | {ratio:.2f}x |")
        print(lines[-1])

    def sign_pairs(sf):
        e = load_tables(spark, sf)["embeddings"]
        bands = sign_lsh_bands(e, dim=64, rows_per_band=8)
        return banded_pairs(bands, "vec_id", "id_a", "id_b", cap=_BUCKET_CAP).count()

    def ivf_stats(sf):
        from pkg2_spark.queries.llm import _ivf_sizes

        e = load_tables(spark, sf)["embeddings"]
        cells = _ivf_assign(e).groupBy("cid").count()
        r = cells.agg(
            F.count(F.lit(1)), F.avg("count"), F.max("count")
        ).first()
        k12 = _ivf_ks(e)[0]
        n2, n3 = _ivf_sizes(e)
        return (f"{k12}/{n2}/{n3}", int(r[1]), int(r[2]),
                round(r[2] / r[1], 2))

    counter("capped sign-LSH candidate pairs", sign_pairs)

    def components(sf):
        return queries["q_llm_dedup_resolve"](spark, sf).count()

    counter("near-dup components resolved", components)

    ivf_sfs = (
        sfs + ([sf10] if have_sf10 else []) + ([sf100] if have_sf100 else [])
    )
    stats = [ivf_stats(sf) for sf in ivf_sfs]
    lines += ["", "## IVF three-level cell flatness (k1 = max(2, "
              "icbrt(n/256)); proportional level-2/3 seed allocation; "
              "Lloyd-refined level-3 codebook; md5-slot occupancy cap)",
              "", "| scale | k1/|L2|/|L3| | mean final cell "
              "| max final cell | max/mean |",
              "|---|---|---|---|---|"]
    for sf, (k, mean_c, max_c, ratio) in zip(ivf_sfs, stats):
        tag = Path(sf).name
        lines.append(f"| {tag} | {k} | {mean_c} | {max_c} | {ratio}x |")
        print(lines[-1])

    # ANN recall at scale: the flatness/time tables bound COST; this
    # bounds QUALITY — recall@5 of single-probe and 3-probe search vs the
    # exact brute-force top-5, at every probed corpus size (the r8 verdict
    # asked that the codebook change be shown not to regress recall at
    # sf1+; multi-probe >= single-probe is the recall lever's contract).
    def recall_stats(sf):
        from pkg2_spark.operators.similarity import knn_bruteforce

        e = load_tables(spark, sf)["embeddings"]
        probes = e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("probe_embedding"),
        )
        exact = {
            (r["probe_id"], r["vec_id"])
            for r in knn_bruteforce(
                e.select("vec_id", "embedding"), probes, k=5, dim=64
            ).select("probe_id", "vec_id").collect()
        }
        got = {}
        for qname in ("q_llm_ann_ivf", "q_llm_ann_mprobe"):
            hits = {
                (r["probe_id"], r["vec_id"])
                for r in queries[qname](spark, sf)
                .select("probe_id", "vec_id")
                .collect()
            }
            got[qname] = round(len(hits & exact) / max(len(exact), 1), 3)
        return got

    lines += ["", "## ANN recall@5 at scale (5 probes, vs exact brute force)",
              "", "| scale | single-probe | multi-probe (3) |",
              "|---|---|---|"]
    for sf in ivf_sfs:
        rs = recall_stats(sf)
        lines.append(
            f"| {Path(sf).name} | {rs['q_llm_ann_ivf']} "
            f"| {rs['q_llm_ann_mprobe']} |"
        )
        print(lines[-1])

    lines += emit_recall_tuning_tables(spark, recall_scales())

    lines += [
        "",
        "## Reading the numbers",
        "",
        "- The FIRST run of this probe (round 6) caught a real superlinear",
        "  regression: q_llm_ann_ivf 42.7x and q_llm_semdedup 33.6x per 10x.",
        "  Cause: the row-local higher-order-function argmin is INTERPRETED",
        "  (HOF lambdas sit outside whole-stage codegen), so centroid",
        "  assignment paid ~µs per (vector, centroid) element — invisible",
        "  while k was constant-16, quadratic-feeling once derived k grew",
        "  with n. Fix: wide-codegen cosine over the broadcast centroid ROWS",
        "  + a map-combinable max(struct) argmax (no rank window); the",
        "  assignment is localCheckpoint-ed where multiple stages read it.",
        "  Post-fix: ann_ivf 91s -> ~15s, semdedup 166s -> ~19s at sf1.",
        "- Capped pair volume jumps >10x across THIS decade because sf0.1",
        "  buckets sat far below the cap and the near-dup replicas push them",
        "  INTO it — the one-time transition into saturation. Past it, pair",
        "  volume is bounded by #buckets x cap^2 (grows with bucket count,",
        "  i.e. linearly in corpus diversity), which is the cap's contract.",
        "- The three-level quantizer (r9 design: k1 = max(2, icbrt(n/256))",
        "  md5-sampled level-1 centroids; levels 2/3 allocate ~cell/target",
        "  member seeds PROPORTIONALLY; one Lloyd recentering of the",
        "  level-3 codebook; md5-slot occupancy cap above 2x target) holds",
        "  MEAN final cell ≈ target AND max/mean ≤ ~2.5 at every probed",
        "  scale — r8's fixed per-parent k let final cells inherit parent",
        "  skew (max/mean 18.2 at sf10, 10.0 at sf100). Components track",
        "  the corpus (denser graph still resolves inside the contraction",
        "  round budget).",
        "- The skew family (q_join_salted / q_agg_salted / q_stream_rt_join)",
        "  gets the same wall-clock treatment: the salted spray is a",
        "  constant-factor replication, so ~linear decade ratios are the",
        "  expected (and asserted) shape.",
        "- Second-decade ann_ivf/semdedup: the r7 two-level quantizer",
        "  measured 11.74x/12.05x per 10x here — the Θ(n^1.5/16) assignment",
        "  term (grows 10·√10 ≈ 31.6x per decade) blending with linear",
        "  scan/join work. The r8 three-level tree cuts assignment to",
        "  n·(k1+k2+k3) ≈ 3n·(n/256)^(1/3) — subterm growth 10^(4/3) ≈",
        "  21.5x on a much smaller constant (26x cheaper at n = 10^12) —",
        "  so the blended decade ratio should sit near-linear through",
        "  ~10^9 vectors. Constant or clamped k would keep assignment",
        "  linear but let cells (and per-probe scan + dedup recall loss)",
        "  grow without bound. The remaining lever past that: a",
        "  k-means-refined codebook (q_kmeans_step is the builder), which",
        "  also balances cells.",
        "- MAX final cell is now bounded by CONSTRUCTION, not hoped-for",
        "  balance: a quantizer cell holding > 2x target is md5-slot-split",
        "  into ~cell/256 slots (engine-portable hex32(md5(id)) mod slots,",
        "  mirrored in the oracle CTE), so a dense region that cosine",
        "  cannot separate — the replica corpus's deliberate worst case —",
        "  still caps the per-probe scan and the ivfpq ADC arm at ~1.5x",
        "  target rows. r8's uncapped tree measured max 11295 vs mean 1133",
        "  at sf100; the cap bounds that ratio at every scale above.",
        "- Proportional allocation also fixes the sf100 MEAN artifact: r8",
        "  spent k1·k2·k3 codebook entries regardless of where vectors",
        "  landed, so replica cell-collapse left empty cells and inflated",
        "  the occupied-cell mean to 1133; allocating seeds by actual cell",
        "  population sizes the codebook to the OCCUPIED geometry.",
        "- Recall at scale: the occupancy cap TRADES single-probe recall in",
        "  collapsed cells for bounded scan cost — a capped cell's members",
        "  spread across md5 slots, so one slot holds ~1/slots of a probe's",
        "  exact-tie replica set (sf100: 100 near-identical copies per",
        "  vector; exact-set recall@5 punishes tie ordering — retrieving",
        "  ANY replica is semantically equivalent for dedup/search). The",
        "  multi-probe beam is the recovery lever and is SLOT-aware: the",
        "  probe's own assigned cell is always searched (rank 0 — the",
        "  production IVF posture, making multi's candidate set a strict",
        "  superset of single's) and the remaining beam ranks slot-cells",
        "  (a capped cell's slots share its centroid, so they outrank",
        "  farther foreign cells). First measurement of this table caught",
        "  multi < single at sf10 (0.64 vs 0.84): per-cell single-slot",
        "  routing let the probe's own slot lose the md5 draw, and",
        "  round-4 cosine ties across near-identical refined centroids",
        "  broke toward min cell id, pushing the assigned cell out of the",
        "  beam. Both fixed by own-cell-first + slot-cell beam.",
        "- Diverse decades: the span/winnow near-dup-replica tails (8.57x /",
        "  10.84x in r8) measured the replica construction, not the",
        "  operator — dup mass grows superlinearly when every decade",
        "  near-duplicates the last. The token-permuted diverse decades",
        "  grow content instead; the table above is the linear-claim",
        "  evidence for the shingle/fingerprint-keyed joins.",
        "- The recall-vs-n_probe table (r10) is the TUNING surface: descent",
        "  pinned at 8 makes the three widths nested prefixes of one ranked",
        "  slot-cell list, so recall is monotone by construction and the",
        "  three points are one curve. Replica corpora reach 1.0 at",
        "  n_probe = 8 at every scale; the diverse (dimension-permuted,",
        "  isotropic) corpora track the scanned fraction — the",
        "  information-theoretic bound for any cell-pruning index on",
        "  structure-free geometry. Guidance: SCALING.md (IVF section);",
        "  the oracle-checked q_llm_ann_tune re-verifies the curve's",
        "  monotonicity in the driver's correctness gate.",
        "- Timing robustness (r8): this sandbox shows multi-minute ambient",
        "  contention waves (one inflated three sf1 rows ~8x mid-probe).",
        "  timed() retries a query (≤2x) when its 3-run spread exceeds",
        "  2.5x and keeps the fastest attempt's median; residual",
        "  inflation can survive a wave longer than the retry window —",
        "  compare suspicious rows against BENCH_r{N}.json mins before",
        "  reading them as regressions.",
        "",
    ]
    text = "\n".join(lines)
    if out_path:
        Path(out_path).write_text(text + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
