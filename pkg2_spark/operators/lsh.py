"""Pair discovery: the one place candidate pairs are made.

Every near-dup pipeline in the package is candidate-then-verify, built
from four steps that live here and in operators/similarity.py:

1. **Blocking.** Give each row one or more blocking keys: MinHash bands
   over token sets (operators/text.py::lsh_bands), sign-LSH bands over
   embeddings (operators/similarity.py::sign_lsh_bands), a SimHash half,
   a winnowing fingerprint, a source label, an IVF cell. Only rows that
   share a key are ever compared, which replaces the O(n²) all-pairs
   scan by one equi-join.
2. **Pairing.** ``self_pairs`` is the blocked self-join: each same-key
   pair comes out once, oriented ``left < right``, with any carried
   columns suffixed ``_a``/``_b``. ``banded_pairs`` applies it to a band
   table (rows of ``id, band_id, band_key``) and removes multi-band
   duplicates. With a bucket ``cap`` it instead ENUMERATES pairs inside
   each capped bucket (see below), which needs no self-join at all.
3. **Attach.** ``attach_sides`` joins per-id columns (token sets,
   signatures, split labels) onto both ends of a pair frame, inner or
   left.
4. **Verify.** The exact score on the attached columns: Jaccard,
   Hamming, or cosine (operators/similarity.py::cosine_on_pairs).

Hot buckets. Boilerplate-heavy corpora put thousands of documents behind
one band key, and a bucket of m members emits m·(m-1)/2 pairs: the
quadratic blow-up comes back through the skewed tail of the key
distribution. The guard is a deterministic per-bucket cap. Members of
each (band_id, band_key) bucket are ranked by md5(id) (content-free and
the same in every engine) and only the first ``cap`` take part, so a
bucket yields at most cap·(cap-1)/2 pairs and the total is
O(#buckets · cap²) instead of O(Σ m_b²). A capped bucket's members fit
in one array, so pairs are enumerated per bucket on the partitioning the
cap window already made: one band shuffle instead of the two that a
self-join's sides cost. Uncapped buckets have no such bound, so they
stay a self-join.

Why cap rather than salt: salting (operators/skew.py) spreads a hot
key's WORK across tasks but keeps the pair count quadratic, which is
right when every pair must be scored. Dedup does not need every pair:
the members of a saturated bucket are near-identical by construction,
and the kept subset still links them through component resolution.
Recall is lost only for members that share no other band with a kept
member, the bounded-recall trade every production MinHash dedup makes.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from pkg2_spark.session import fan_out_scan

_BAND_KEYS = ("band_id", "band_key")


def self_pairs(
    df: DataFrame,
    id_col: str,
    keys: Sequence[str],
    left: str,
    right: str,
    carry: Sequence[str] = (),
    shuffle_hash: bool = False,
    fan_out: bool = False,
) -> DataFrame:
    """Every pair of ``df`` rows that agree on all ``keys``, once, as
    ``left < right`` ids. Output: ``left``, ``right``, the keys (one
    copy) and each ``carry`` column twice, as ``<c>_a`` from the left row
    and ``<c>_b`` from the right row. With no keys every row pairs with
    every other (a nested-loop join; only for small inputs).

    The join is a plain equi-join on the keys plus the ``<`` orientation.
    Each side is one projection of ``df``; the optimizer sees the same
    plan as a hand-written self-join. ``shuffle_hash`` puts that hint on
    the right side: a shuffle join reuses an exchange the two sides
    already share, where a broadcast would rebuild the whole input for
    the build side. ``fan_out`` spreads an under-split left (probe) side
    across the cores first (session.fan_out_scan), for callers whose
    per-pair work runs on the probe side's partitions."""
    a = (fan_out_scan(df) if fan_out else df).select(
        F.col(id_col).alias(left),
        *keys,
        *[F.col(c).alias(f"{c}_a") for c in carry],
    )
    b = df.select(
        F.col(id_col).alias(right),
        *[F.col(k).alias(f"_{k}_r") for k in keys],
        *[F.col(c).alias(f"{c}_b") for c in carry],
    )
    if shuffle_hash:
        b = b.hint("shuffle_hash")
    cond = reduce(
        operator.and_,
        [F.col(k) == F.col(f"_{k}_r") for k in keys] + [F.col(left) < F.col(right)],
    )
    return a.join(b, cond).select(
        left,
        right,
        *keys,
        *[f"{c}_a" for c in carry],
        *[f"{c}_b" for c in carry],
    )


def attach_sides(
    pairs: DataFrame,
    side: DataFrame,
    id_col: str,
    left: str,
    right: str,
    cols: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Join the per-id ``cols`` of ``side`` onto both ends of a pair
    frame: ``<c>_a`` for the ``left`` id, ``<c>_b`` for the ``right`` id.
    ``how="left"`` keeps pairs whose id has no ``side`` row, with nulls
    there (e.g. a document with no tokens has no signature row)."""
    sa = side.select(F.col(id_col).alias(left), *[F.col(c).alias(f"{c}_a") for c in cols])
    sb = side.select(F.col(id_col).alias(right), *[F.col(c).alias(f"{c}_b") for c in cols])
    return pairs.join(sa, left, how).join(sb, right, how)


def cap_band_buckets(bands: DataFrame, id_col: str, cap: int) -> DataFrame:
    """Keep a deterministic md5-ranked subset of at most ``cap`` members per
    (band_id, band_key) bucket. Mirrored in DuckDB oracles via
    ``capped_bands_sql`` — exact same rank expression, so the kept sets are
    bit-identical across engines."""
    w = Window.partitionBy(*_BAND_KEYS).orderBy(
        F.md5(F.col(id_col).cast("string")).asc_nulls_last(),
        F.col(id_col).asc_nulls_last(),
    )
    return (
        bands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def banded_pairs(
    bands: DataFrame,
    id_col: str,
    left_alias: str,
    right_alias: str,
    cap: int | None = None,
    keep_provenance: bool = False,
    distinct_pairs: bool = True,
) -> DataFrame:
    """Distinct candidate pairs (left < right) from a band table: pairs of
    ids sharing a (band_id, band_key) bucket, found by ``self_pairs``
    or, with a ``cap``, enumerated inside each capped bucket. The
    ``distinct`` collapses multi-band collisions before any downstream
    scoring work.

    With ``keep_provenance`` the originating (band_id, band_key) stays on
    each pair row (distinct over the 4-tuple): the persisted shape the
    incremental dedup path needs, so pairs from buckets a delta never
    touches can be reused without re-deriving them.

    ``distinct_pairs=False`` (r15, guide §2.4 "a distinct on data that is
    already unique"): when the band table has a SINGLE band per id (e.g.
    the IVF-cell blocking key in q_llm_semdedup), a pair can only arise in
    one bucket, so the multi-band distinct is a no-op that still costs one
    pair-keyed Exchange + two hash aggregates. Callers assert the
    single-band property; multi-band tables must keep the default."""
    if cap is None:
        # Uncapped: bucket membership is unbounded, so pairing stays a
        # self-join (collect_list over a hot bucket would be the exact
        # memory blow-up the cap exists to prevent).
        pairs = self_pairs(bands, id_col, _BAND_KEYS, left_alias, right_alias, shuffle_hash=True)
    else:
        # Capped (r14, guide §2.4 "remove shuffles outright"): every bucket
        # holds at most ``cap`` members, so its member list fits in one
        # array and pairs are ENUMERATED per bucket — collect_list on the
        # (band_id, band_key) partitioning the cap window just made (no
        # extra Exchange), then inline the x<y combinations. A self-join
        # builds the scan→band→sort→shuffle subtree TWICE (exchange reuse
        # does not fire across the two aliased sides) and adds a join on
        # top; per-bucket work is O(m²) either way. Same pair set as the
        # self-join (r14: 61,645 of 61,645 at sf0.1).
        grouped = cap_band_buckets(bands, id_col, cap).groupBy(*_BAND_KEYS).agg(
            F.collect_list(id_col).alias("_members")
        )
        pair_cols = f"x AS {left_alias}, y AS {right_alias}"
        pairs = grouped.select(
            *_BAND_KEYS,
            F.expr(
                "inline(flatten(transform(_members, x -> "
                f"transform(filter(_members, y -> x < y), y -> struct({pair_cols})))))"
            ),
        )
    out = pairs.select(left_alias, right_alias, *(_BAND_KEYS if keep_provenance else ()))
    return out.distinct() if distinct_pairs else out


def capped_bands_sql(id_col: str, cap: int, source: str = "bands") -> str:
    """DuckDB CTE body mirroring ``cap_band_buckets`` over a CTE named
    ``source`` with columns (id_col, band_id, band_key)."""
    return f"""cbands AS (
  SELECT {id_col}, band_id, band_key FROM {source}
  QUALIFY row_number() OVER (
    PARTITION BY band_id, band_key
    ORDER BY md5(CAST({id_col} AS VARCHAR)) ASC NULLS LAST, {id_col} ASC NULLS LAST
  ) <= {cap}
)"""
