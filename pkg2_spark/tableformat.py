"""Minimal ACID table format over parquet — a Delta-style ordered JSON log.

The reference's CDC / time-travel surface (SURVEY.md §2.12b: snapshot
diff, merge, incremental view maintenance) ran over snapshot parquet
directories; a 100 TB deployment wants those dataflows bound to a real
table format with a commit protocol. This module is that binding,
Spark-first and object-store-shaped:

Layout::

    <table>/
      _log/00000000000000000001.json    one JSON commit per version
      data/v1-<uuid>/part-*.parquet     immutable, per-commit data dirs

Protocol:

- **Commit = atomic exclusive create** of the next version's log file
  (``O_CREAT | O_EXCL``). Two writers racing to version v: exactly one
  create succeeds, the loser re-reads the log and retries against v+1 —
  the optimistic-concurrency primitive every log-structured table format
  uses (object stores substitute put-if-absent; the log is the only
  thing ever contended, data files are write-once under unique names).
- **Readers never list data directories.** A snapshot at version v is
  the fold of each commit's ``add``/``remove`` file lists up to v, so
  reads are immune to in-flight writers, partial writes, and
  eventually-consistent listings; uncommitted data dirs are invisible.
- **Data files are immutable**, so time travel is free (old versions
  keep referencing old files until ``vacuum``), and file-level equality
  between snapshots means ROW-level equality — the CDC fast path below.
- **Per-file column stats ride in the log** (min/max per requested
  column, read once from the parquet footers at commit time — the
  Delta data-skipping design). ``merge`` prunes its copy-on-write
  rewrite to files whose stat range intersects the touched keys; with
  writes clustered on the merge key (``repartition(key)`` before
  ``write``), stats-pruning degenerates to partition pruning without
  hive-style directory coupling.

Scale posture: the log is O(commits) tiny JSON; folding it is
driver-side metadata work (exactly the metadata layer Delta/Iceberg
pay), and every data-path operation is a plain Spark job over parquet —
pushdown, AQE, and codegen all apply unchanged. Nothing here collects
table data to the driver.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from pkg2_spark.session import truncate_lineage

_LOG_FMT = "{:020d}.json"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — refold and retry."""


class RestorePoisonedError(FileNotFoundError):
    """A concurrent vacuum reaped the restore target's data files AFTER
    the restore commit had already won the log race (restore's
    check-then-commit window). Before raising, restore() auto-commits a
    compensating metadata-only restore back to the pre-restore head, so
    the table never serves an unreadable head and a caller that catches
    and retries restore(version) does not stack poisoned heads (r12
    advice). The versions are attached for programmatic recovery:
    ``poisoned_version`` (the committed-but-unreadable restore) and
    ``compensated_version`` (the compensating commit, or None when the
    head moved / every compensation retry lost its commit race — then
    the message's manual remedy applies)."""

    def __init__(
        self,
        msg: str,
        poisoned_version: int,
        compensated_version: int | None,
    ):
        super().__init__(msg)
        self.poisoned_version = poisoned_version
        self.compensated_version = compensated_version


def _log_dir(path: str) -> str:
    return os.path.join(path, "_log")


def _versions(path: str) -> list[int]:
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and f[:-5].isdigit()
    )


def latest_version(path: str) -> int:
    """Highest committed version (-1 for a nonexistent table)."""
    vs = _versions(path)
    return vs[-1] if vs else -1


def _read_commit(path: str, version: int) -> dict:
    with open(os.path.join(_log_dir(path), _LOG_FMT.format(version))) as f:
        return json.load(f)


def snapshot_files(path: str, version: int | None = None) -> list[str]:
    """Live data files (absolute paths) at ``version`` (default: latest),
    by folding add/remove over the log prefix — never by listing data/."""
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no table log at {path}")
    cut = vs[-1] if version is None else version
    if cut not in vs:
        raise ValueError(f"version {cut} not in table log (have {vs})")
    live: dict[str, bool] = {}
    for v in vs:
        if v > cut:
            break
        c = _read_commit(path, v)
        for f in c.get("add", []):
            live[f["path"]] = True
        for rel in c.get("remove", []):
            live.pop(rel, None)
    return [os.path.join(path, rel) for rel in live]


def _live_entries(path: str, cut: int) -> dict[str, dict]:
    """Live add ENTRIES (relative path → full add record, with rows and
    stats) at version ``cut`` — the entry-preserving sibling of
    snapshot_files, for metadata-only commits that re-add files by
    reference (restore)."""
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no table log at {path}")
    if cut not in vs:
        raise ValueError(f"version {cut} not in table log (have {vs})")
    live: dict[str, dict] = {}
    for v in vs:
        if v > cut:
            break
        c = _read_commit(path, v)
        for f in c.get("add", []):
            live[f["path"]] = f
        for rel in c.get("remove", []):
            live.pop(rel, None)
    return live


def dv_state(path: str, cut: int | None = None) -> list[dict]:
    """The DELETION-VECTOR state at version ``cut`` (default head): the
    list of live DV entries ({"path": rel, "rows": n}), folded like the
    file lists. DV entries ACCUMULATE across dv-delete commits; a commit
    carrying ``dv_base`` (compact → [], restore → the target's folded
    state) RESETS the set first. Stale DV rows referencing files a later
    rewrite removed are harmless — the read-path anti-join keys on
    (file, row_index) and dead files are never scanned — so merge never
    needs to rewrite DV sidecars; compact's reset is a join-size
    optimization, not a correctness requirement."""
    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no table log at {path}")
    cut = vs[-1] if cut is None else cut
    dvs: list[dict] = []
    for v in vs:
        if v > cut:
            break
        rec = _read_commit(path, v)
        if "dv_base" in rec:
            dvs = list(rec["dv_base"])
        dvs = dvs + list(rec.get("dv", []))
    return dvs


def _file_stats(files: list[str], stats_cols: list[str]) -> list[dict]:
    """Per-file min/max for ``stats_cols``, read from parquet footers —
    one metadata read per new file at COMMIT time (the Delta stats
    design: pay once on write, skip forever on read)."""
    import pyarrow.parquet as pq

    out = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats: dict[str, list] = {}
        for col in stats_cols:
            if col not in idx:
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(idx[col]).statistics
                if s is None or not s.has_min_max:
                    lo = hi = None
                    break
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            if lo is not None:
                stats[col] = [_json_safe(lo), _json_safe(hi)]
        out.append({"stats": stats, "rows": md.num_rows})
    return out


def _json_safe(v):
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _write_data(
    df: DataFrame, path: str, version: int, stats_cols: list[str] | None
) -> list[dict]:
    """Write ``df`` into a fresh per-commit data dir and return its add
    entries (relative path + footer stats). The dir name carries the
    target version and a uuid, so concurrent writers never collide on
    data paths even when they race on the commit itself."""
    rel_dir = os.path.join("data", f"v{version}-{uuid.uuid4().hex[:12]}")
    out_dir = os.path.join(path, rel_dir)
    df.write.mode("error").parquet(out_dir)
    files = sorted(
        os.path.join(out_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith(".parquet")
    )
    metas = _file_stats(files, stats_cols or [])
    return [
        {
            "path": os.path.join(rel_dir, os.path.basename(f)),
            "rows": m["rows"],
            "stats": m["stats"],
        }
        for f, m in zip(files, metas)
    ]


def log_schema(path: str, version: int | None = None):
    """The logged table schema as of ``version`` (module-level so
    session-free consumers — e.g. the Python Data Source's driver-side
    planner — can fold the log without constructing a Table)."""
    from pyspark.sql.types import StructType

    vs = _versions(path)
    if not vs:
        raise FileNotFoundError(f"no table log at {path}")
    cut = vs[-1] if version is None else version
    rec = None
    for v in vs:
        if v > cut:
            break
        s = _read_commit(path, v).get("schema")
        if s is not None:
            rec = None if s.get("__none__") else s
    return StructType.fromJson(rec) if rec is not None else None


def _commit(
    path: str,
    version: int,
    op: str,
    add: list[dict],
    remove: list[str],
    meta: dict | None = None,
    schema: dict | None = None,
    dv: list[dict] | None = None,
    dv_base: list[dict] | None = None,
) -> None:
    os.makedirs(_log_dir(path), exist_ok=True)
    rec = {
        "version": version,
        "op": op,
        "add": add,
        "remove": remove,
        "meta": meta or {},
    }
    if schema is not None:
        rec["schema"] = schema
    if dv is not None:
        rec["dv"] = dv
    if dv_base is not None:
        rec["dv_base"] = dv_base
    target = os.path.join(_log_dir(path), _LOG_FMT.format(version))
    try:
        fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise ConcurrentCommitError(
            f"version {version} of {path} was committed by another writer"
        ) from None
    with os.fdopen(fd, "w") as f:
        json.dump(rec, f, indent=1)


def _with_zvalue(df: DataFrame, cols: list[str]) -> DataFrame:
    """Append a Morton (Z-order) key ``__z`` over up to four numeric
    columns: each dimension linear-scales to an 8-bit bucket against its
    global min/max (ONE tiny bounds aggregate, broadcast as literals),
    and the buckets' bits interleave — q_fn_zorder's expression driving
    a write layout. Nulls bucket to 0 (they cluster together at the
    low corner, like Delta's NULLS FIRST zorder)."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import NumericType

    if not 1 <= len(cols) <= 4:
        raise ValueError("zorder_by takes 1-4 columns")
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    bad = [
        c for c in cols
        if c not in dtypes or not isinstance(dtypes[c], NumericType)
    ]
    if bad:
        raise ValueError(
            f"zorder_by columns must be numeric table columns; got {bad} "
            "(a silent cast-to-null here would bucket everything to 0)"
        )
    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"__lo_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"__hi_{c}"))
    b = df.agg(*aggs).collect()[0]
    ndims = len(cols)
    z = None
    for j, c in enumerate(cols):
        lo, hi = b[f"__lo_{c}"], b[f"__hi_{c}"]
        if lo is None or hi is None or hi == lo:
            bucket = F.lit(0).cast("long")
        else:
            scaled = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(
                float(hi) - float(lo)
            ) * 256
            bucket = F.coalesce(
                F.least(F.lit(255).cast("long"), F.floor(scaled).cast("long")),
                F.lit(0).cast("long"),
            )
        for i in range(8):
            bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1)) * F.lit(
                1 << (i * ndims + j)
            )
            z = bit if z is None else z + bit
    return df.withColumn("__z", z.cast("long"))


@dataclass
class Table:
    """Handle on a logged table — all mutators go through the commit
    protocol; all readers go through snapshot folding."""

    spark: SparkSession
    path: str
    stats_cols: list[str] | None = None
    cluster_by: str | None = None
    num_files: int | None = None
    max_retries: int = 5

    # -- readers ---------------------------------------------------------
    def schema_at(self, version: int | None = None):
        """The TABLE schema as of ``version`` — read from the log (each
        commit records its written schema: the Delta design, where the
        log, not the data files, owns the schema). None if the log
        predates schema recording — including after a restore() to such
        a version, which records an explicit {"__none__": true} marker
        so the fold reverts instead of resolving to a later schema."""
        return log_schema(self.path, version)

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read, optionally time-traveled to ``version``. The
        scan is pinned to the LOG's schema at that version — files
        written before a column existed surface it as null (schema
        evolution), and old versions read back with their OLD schema
        (time travel is schema-correct, not just row-correct)."""
        files = snapshot_files(self.path, version)
        schema = self.schema_at(version)
        if version is not None:
            # Time travel outside the vacuum retention window should say
            # so, not fail lazily inside a Spark scan. The stat walk is
            # confined to EXPLICIT time-travel reads: the latest
            # snapshot's files always exist (vacuum never touches them),
            # so the hot path pays nothing. DV sidecars are part of the
            # snapshot: a vacuumed DV file makes the version unreadable
            # the same way a vacuumed data file does.
            dv_files = [
                os.path.join(self.path, e["path"])
                for e in dv_state(self.path, version)
            ]
            gone = [f for f in files + dv_files if not os.path.exists(f)]
            if gone:
                raise FileNotFoundError(
                    f"version {version} of {self.path} is no longer "
                    f"readable: {len(gone)}/{len(files) + len(dv_files)} "
                    "of its data/DV files were vacuumed (raise vacuum's "
                    "keep_versions to retain deeper time travel)"
                )
        if not files:
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            # pre-schema-recording log: take any file it ever referenced
            first = _read_commit(self.path, _versions(self.path)[0])
            probe = [os.path.join(self.path, f["path"]) for f in first["add"]]
            return self.spark.read.parquet(*probe).limit(0)
        return self._scan(files, version)

    def history(self) -> list[dict]:
        """The commit log, oldest first (driver-side: O(commits))."""
        return [_read_commit(self.path, v) for v in _versions(self.path)]

    def changes(self, v_from: int, v_to: int) -> DataFrame:
        """Row-level CDC between two snapshots: rows only in ``v_to`` are
        tagged ``insert``, rows only in ``v_from`` are tagged ``delete``
        (an update under merge = delete + insert of the new image).

        File-pruned: data files are immutable, so files present in BOTH
        snapshots cancel exactly — only the file-set difference is read
        and exceptAll'd. An append-only history diffs by reading just the
        appended files; a merge reads just the rewritten region. The
        exceptAll pair is two hash-aggregates over the differing files,
        never a full-table pass."""
        sa = set(snapshot_files(self.path, v_from))
        sb = set(snapshot_files(self.path, v_to))
        only_a, only_b = sorted(sa - sb), sorted(sb - sa)
        import pyspark.sql.functions as F

        dva, dvb = dv_state(self.path, v_from), dv_state(self.path, v_to)
        dv_moved = [e["path"] for e in dva] != [e["path"] for e in dvb]
        if not only_a and not only_b and not dv_moved:
            return self.read(v_to).limit(0).withColumn("change_type", F.lit(""))
        # Both sides read under v_to's LOG schema so an evolved column
        # aligns (nulls on the old side) instead of failing the exceptAll.
        schema = self.schema_at(v_to)
        reader = self.spark.read.schema(schema) if schema else self.spark.read
        schema_probe = sorted(sb or sa)[0]
        empty = reader.parquet(schema_probe).limit(0).withColumn(
            "change_type", F.lit("")
        )
        parts = [empty]
        if only_a or only_b:
            # Each side applies ITS OWN version's DV set, so a row
            # merge-on-read-deleted BEFORE the window never surfaces as a
            # change when its file is later rewritten (the rewrite's
            # output lacks it on both sides).
            da = (
                self._apply_dv(reader.parquet(*only_a), dva)
                if only_a
                else empty.drop("change_type")
            )
            db = (
                self._apply_dv(reader.parquet(*only_b), dvb)
                if only_b
                else empty.drop("change_type")
            )
            parts.append(
                db.exceptAll(da).withColumn("change_type", F.lit("insert"))
            )
            parts.append(
                da.exceptAll(db).withColumn("change_type", F.lit("delete"))
            )
        if dv_moved:
            # MERGE-ON-READ deletes inside the window: DV rows present at
            # v_to but not v_from are delete images; rows present at
            # v_from but not v_to (a restore un-deleting) are insert
            # images. Restricted to files live in BOTH snapshots — a
            # rewritten file's row changes are already in the file diff
            # above, and its stale DV rows must not double-count.
            common_rel = {os.path.relpath(f, self.path) for f in sa & sb}
            fa = (
                self._dv_frame(dva).select("file", "ri")
                if dva
                else self.spark.createDataFrame([], "file string, ri long")
            )
            fb = (
                self._dv_frame(dvb).select("file", "ri")
                if dvb
                else self.spark.createDataFrame([], "file string, ri long")
            )
            for pos, tag in (
                (fb.exceptAll(fa), "delete"),
                (fa.exceptAll(fb), "insert"),
            ):
                # O(files) driver-side intersect, not an isin literal list
                # (plan bloat at scale); non-common files drop here and
                # their stale pos rows can never match the scan's join key.
                hit_files = [
                    r["file"]
                    for r in pos.select("file").distinct().collect()
                    if r["file"] in common_rel
                ]
                if not hit_files:
                    continue
                scan = self._tag_positions(
                    reader.parquet(
                        *[os.path.join(self.path, rel) for rel in hit_files]
                    )
                )
                img = (
                    scan.join(
                        F.broadcast(
                            pos.select(
                                F.col("file").alias("__file"),
                                F.col("ri").alias("__ri"),
                            )
                        ),
                        ["__file", "__ri"],
                        "inner",
                    )
                    .drop("__file", "__ri")
                    .withColumn("change_type", F.lit(tag))
                )
                parts.append(img)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _pinned_reader(self, version: int | None = None):
        """A reader pinned to the log's schema — EVERY rewrite must scan
        through this: after a schema evolution the live set holds files
        with and without the added column, and plain parquet inference
        picks one footer arbitrarily, silently dropping the evolved
        column from a compaction/delete/merge rewrite."""
        schema = self.schema_at(version)
        return self.spark.read.schema(schema) if schema else self.spark.read

    def _file_prefix(self) -> str:
        """The _metadata.file_path prefix for this table's data files —
        strip it to get the log's relative paths."""
        return "file:" + os.path.abspath(self.path) + "/"

    def _dv_frame(self, dv_entries: list[dict]) -> DataFrame:
        """The folded deletion-vector rows (file, ri) as a DataFrame."""
        return self.spark.read.parquet(
            *[os.path.join(self.path, e["path"]) for e in dv_entries]
        )

    def _tag_positions(self, df: DataFrame) -> DataFrame:
        """Attach __file (log-relative path) and __ri (row index) from the
        scan's _metadata columns — must run while df is still a bare file
        scan (_metadata stops resolving after a join)."""
        import pyspark.sql.functions as F

        return df.withColumn(
            "__file",
            F.replace(
                F.col("_metadata.file_path"),
                F.lit(self._file_prefix()),
                F.lit(""),
            ),
        ).withColumn("__ri", F.col("_metadata.row_index"))

    def _apply_dv(
        self, df: DataFrame, dv_entries: list[dict], keep_pos: bool = False
    ) -> DataFrame:
        """Apply a DELETION-VECTOR set to a bare file scan: one broadcast
        anti-join on (file, row_index) against the (small — that is the
        merge-on-read bet) folded DV rows."""
        import pyspark.sql.functions as F

        if not dv_entries and not keep_pos:
            return df
        tagged = self._tag_positions(df)
        if dv_entries:
            dv = self._dv_frame(dv_entries).select(
                F.col("file").alias("__dv_file"), F.col("ri").alias("__dv_ri")
            )
            tagged = tagged.join(
                F.broadcast(dv),
                (F.col("__file") == F.col("__dv_file"))
                & (F.col("__ri") == F.col("__dv_ri")),
                "left_anti",
            )
        return tagged if keep_pos else tagged.drop("__file", "__ri")

    def _scan(
        self,
        files: list[str],
        version: int | None = None,
        keep_pos: bool = False,
    ):
        """Schema-pinned scan of ``files`` with the version's DELETION
        VECTORS applied — THE scan every reader and every rewrite must go
        through once a table has DV commits: a rewrite reading raw files
        would RESURRECT merge-on-read-deleted rows into its output.
        ``keep_pos`` keeps the __file/__ri position columns for callers
        that need them (the DV writer)."""
        df = self._pinned_reader(version).parquet(*files)
        return self._apply_dv(df, dv_state(self.path, version), keep_pos)

    # -- writers ---------------------------------------------------------
    def create(self, df: DataFrame) -> int:
        """Version 0: write ``df`` and open the log. With ``cluster_by``
        set on the handle, every commit range-clusters on that column so
        per-file stat ranges stay tight and merge's data skipping bites
        (the layout lever)."""
        if latest_version(self.path) >= 0:
            raise FileExistsError(f"table already exists at {self.path}")
        return self._mutate("create", df, remove=[], base_version=-1)

    def append(self, df: DataFrame, allow_schema_evolution: bool = False) -> int:
        """Blind append — never conflicts logically, so a commit race is
        simply retried against the next version.

        Schema ENFORCEMENT (the Delta posture): an append whose columns
        differ from the table's logged schema is refused unless
        ``allow_schema_evolution`` — with it, the append may ADD columns
        (the commit's logged schema becomes the new table schema; old
        files read the new column as null) but never drop or retype one
        (dropping silently loses data on the next read; retyping breaks
        the pinned-schema scan of old files)."""
        self._enforce_schema(df, allow_schema_evolution)
        for _ in range(self.max_retries):
            v = latest_version(self.path)
            try:
                return self._mutate("append", df, remove=[], base_version=v)
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError(f"append to {self.path} kept losing races")

    def _enforce_schema(self, df: DataFrame, allow_evolution: bool) -> None:
        current = self.schema_at() if latest_version(self.path) >= 0 else None
        if current is None:
            return
        cur = {f.name: f.dataType for f in current.fields}
        new = {f.name: f.dataType for f in df.schema.fields}
        dropped = sorted(set(cur) - set(new))
        added = sorted(set(new) - set(cur))
        retyped = sorted(
            n for n in set(cur) & set(new) if cur[n] != new[n]
        )
        if dropped or retyped:
            raise ValueError(
                f"append to {self.path} is schema-incompatible: "
                f"dropped={dropped} retyped={retyped} (evolution may only "
                "ADD columns)"
            )
        if added and not allow_evolution:
            raise ValueError(
                f"append to {self.path} adds columns {added}; pass "
                "allow_schema_evolution=True to evolve the table schema"
            )

    def merge(self, updates: DataFrame, key: str) -> int:
        """Copy-on-write upsert: rows of ``updates`` replace same-``key``
        rows, new keys insert. Only data files whose footer [min, max]
        range on ``key`` intersects the updates' key range are rewritten
        (stats pruning); untouched files carry over by reference. The
        rewrite itself is one anti-join + union + write — all
        distributed; the pruning decision is driver-side metadata only.

        Touched-file discovery is two-stage, both exact supersets:
        footer-stats candidates first (a file whose [min, max] on ``key``
        misses the updates' key bounds cannot hold an updated row —
        driver-side metadata, free), then the Delta findTouchedFiles
        join: the candidates' KEY COLUMN ONLY, semi-joined against the
        update keys, aggregated to distinct file paths. The join stage is
        what keeps a pure-INSERT key range (e.g. new surrogate keys above
        every existing file) from widening the stats bounds into a
        full-table rewrite: files containing no updated key fall out
        exactly, whatever the bounds say.

        A concurrent commit between snapshot fold and log write aborts
        the attempt (ConcurrentCommitError) and re-runs against the new
        snapshot — serializable because the losing rewrite is discarded
        wholesale (its data dir is left unreferenced for vacuum)."""
        import pyspark.sql.functions as F

        self._enforce_schema(updates, allow_evolution=False)
        # Materialize the distinct update-key set ONCE: it is read by
        # three separate jobs (bounds, findTouchedFiles, the rewrite's
        # anti-join) and a derived `updates` frame would otherwise
        # re-scan its source per job.
        keys = updates.select(key).distinct().transform(truncate_lineage)
        bounds = keys.agg(
            F.min(key).alias("lo"), F.max(key).alias("hi")
        ).collect()[0]
        lo, hi = _json_safe(bounds["lo"]), _json_safe(bounds["hi"])
        for _ in range(self.max_retries):
            v = latest_version(self.path)
            live = snapshot_files(self.path, v)
            candidates, kept = self._split_by_stats(v, live, key, lo, hi)
            touched = self._find_touched_files(candidates, keys, key)
            kept = kept + [f for f in candidates if f not in set(touched)]
            if touched:
                # No broadcast hint: the update delta is unbounded in
                # general (a day's CDC feed) — AQE sizes the anti-join.
                # _scan, not a raw read: a raw rewrite would RESURRECT
                # DV-deleted rows living in the touched files.
                base = self._scan(touched)
                rewritten = base.join(
                    keys, key, "left_anti"
                ).unionByName(updates)
            else:
                rewritten = updates
            rel_touched = [os.path.relpath(f, self.path) for f in touched]
            try:
                return self._mutate(
                    "merge",
                    rewritten,
                    remove=rel_touched,
                    base_version=v,
                    meta={
                        "pruned_files": len(kept),
                        "rewritten_files": len(touched),
                        "key": key,
                    },
                )
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError(f"merge into {self.path} kept losing races")

    def delete_where(self, predicate: str) -> int:
        """Copy-on-write delete: rewrite the snapshot minus matching rows.
        (File pruning on the predicate column is the same stats walk as
        merge; kept simple here — predicates are arbitrary SQL.)"""
        for _ in range(self.max_retries):
            v = latest_version(self.path)
            live = snapshot_files(self.path, v)
            base = self._scan(live)  # DV-applied: never resurrect
            kept_rows = base.filter(f"NOT ({predicate})")
            rel = [os.path.relpath(f, self.path) for f in live]
            try:
                return self._mutate(
                    "delete", kept_rows, remove=rel, base_version=v,
                    meta={"predicate": predicate},
                )
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError(f"delete in {self.path} kept losing races")

    def update_where(self, predicate: str, assignments: dict[str, str]) -> int:
        """Copy-on-write UPDATE ... SET col = expr WHERE predicate. All
        right-hand sides evaluate against the OLD row simultaneously
        (one select, not chained withColumn — SQL UPDATE semantics, so
        ``{"a": "b", "b": "a"}`` swaps). The rewrite scans DV-applied
        (updating a merge-on-read-deleted row must not resurrect it) and
        casts each assignment back to the column's declared type, so an
        update can never retype the table. Like delete_where, the
        rewrite covers the live set; a key-range-targeted upsert should
        use merge(), whose stats pruning bounds the rewrite — noted in
        meta so table history shows which path ran."""
        import pyspark.sql.functions as F

        for _ in range(self.max_retries):
            v = latest_version(self.path)
            live = snapshot_files(self.path, v)
            base = self._scan(live)
            missing = sorted(
                c for c in assignments
                if c not in {f.name for f in base.schema.fields}
            )
            if missing:
                raise ValueError(
                    f"update_where assigns unknown columns {missing}"
                )
            cond = F.expr(predicate)
            cols = []
            for f in base.schema.fields:
                if f.name in assignments:
                    cols.append(
                        F.when(
                            cond,
                            F.expr(assignments[f.name]).cast(f.dataType),
                        )
                        .otherwise(F.col(f.name))
                        .alias(f.name)
                    )
                else:
                    cols.append(F.col(f.name))
            out = base.select(*cols)
            rel = [os.path.relpath(f, self.path) for f in live]
            pre = self.schema_at(v)
            try:
                return self._mutate(
                    "update", out, remove=rel, base_version=v,
                    meta={
                        "predicate": predicate,
                        "assignments": dict(assignments),
                    },
                    # record the DECLARED schema, not the expression's:
                    # when/otherwise marks outputs nullable, and an
                    # UPDATE must not loosen the table's nullability
                    schema_json=pre.jsonValue() if pre is not None else None,
                )
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError(f"update in {self.path} kept losing races")

    def delete_where_dv(self, predicate: str) -> int:
        """MERGE-ON-READ delete — the deletion-vector arm of delete_where
        (Delta DV / Iceberg positional-delete semantics): instead of
        rewriting every live file minus the matching rows (copy-on-write
        pays |table| write for a point delete), record the matching rows'
        POSITIONS — (file, row_index) pairs, resolved through Spark's
        _metadata columns — as a small parquet sidecar and commit it as a
        dv entry. Readers apply the folded DV set as one broadcast
        anti-join (Table._scan), so the delete is visible immediately;
        compact() later MATERIALIZES the deletes (rewrites without the
        rows, resets the DV set) — the read-amplification-vs-write-cost
        trade every merge-on-read format schedules explicitly.

        The position scan itself reads through _scan, so rows already
        DV-deleted are never re-recorded (a second identical delete
        writes an empty sidecar and commits 0 rows). Write cost: one
        predicate scan (column-pruned to the predicate's needs plus two
        metadata columns) + a sidecar proportional to MATCHED rows —
        never a data rewrite. At 100 TB this is the only affordable
        shape for scattered compliance deletes."""
        import pyspark.sql.functions as F

        for _ in range(self.max_retries):
            v = latest_version(self.path)
            live = snapshot_files(self.path, v)
            matches = (
                self._scan(live, version=v, keep_pos=True)
                .filter(predicate)
                .select(
                    F.col("__file").alias("file"),
                    F.col("__ri").alias("ri"),
                )
            )
            rel_dir = os.path.join("dv", f"v{v + 1}-{uuid.uuid4().hex[:12]}")
            out_dir = os.path.join(self.path, rel_dir)
            matches.write.mode("error").parquet(out_dir)
            files = sorted(
                f for f in os.listdir(out_dir) if f.endswith(".parquet")
            )
            metas = _file_stats([os.path.join(out_dir, f) for f in files], [])
            dv = [
                {"path": os.path.join(rel_dir, f), "rows": m["rows"]}
                for f, m in zip(files, metas)
                if m["rows"] > 0
            ]
            try:
                _commit(
                    self.path,
                    v + 1,
                    "delete",
                    [],
                    [],
                    meta={
                        "predicate": predicate,
                        "mode": "dv",
                        "rows_deleted": sum(e["rows"] for e in dv),
                    },
                    schema=(
                        self.schema_at(v).jsonValue()
                        if self.schema_at(v) is not None
                        else None
                    ),
                    dv=dv,
                )
                return v + 1
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError(
            f"dv-delete in {self.path} kept losing races"
        )

    def compact_small(self, target_rows: int, max_files: int | None = None) -> int:
        """PARTIAL compaction — bin-pack only files with fewer than
        ``target_rows`` rows (the production OPTIMIZE shape: a 100 TB
        table is never full-table-compacted; maintenance touches the
        small-file tail each little commit leaves behind, incrementally).
        Right-sized files carry over by reference. Returns the current
        head unchanged when fewer than two files qualify (one small file
        cannot be bin-packed into fewer).

        DV interplay: the rewrite reads DV-applied, so it MATERIALIZES
        the deletes of the files it touches — but unlike full compact it
        must NOT reset the table's DV set: untouched files may still
        depend on their DV rows. Touched files' DV rows simply go stale
        (harmless by the (file, row_index) key design); the next FULL
        compact reclaims the set."""
        for _ in range(self.max_retries):
            v = latest_version(self.path)
            entries = _live_entries(self.path, v)
            small = sorted(
                rel
                for rel, e in entries.items()
                if e.get("rows") is not None and e["rows"] < target_rows
            )
            if len(small) < 2:
                return v
            df = self._scan([os.path.join(self.path, rel) for rel in small])
            saved = self.num_files
            try:
                if max_files is not None:
                    self.num_files = max_files
                return self._mutate(
                    "compact", df, remove=small, base_version=v,
                    meta={
                        "compacted_files": len(small),
                        "partial": True,
                        "target_rows": target_rows,
                        "kept_files": len(entries) - len(small),
                    },
                )
            except ConcurrentCommitError:
                continue
            finally:
                self.num_files = saved
        raise ConcurrentCommitError(
            f"compact_small of {self.path} kept losing races"
        )

    def compact(
        self,
        max_files: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """OPTIMIZE: bin-pack the live snapshot into right-sized files —
        a LOGICAL NO-OP commit (every row carries over; Table.changes
        across it is empty, pinned by test and by q_acid_compact's
        oracle) that undoes small-file accumulation from many little
        commits. The rewrite re-range-clusters on cluster_by, restoring
        tight per-file stat ranges for merge pruning. ``max_files``
        overrides the handle's num_files for this commit (at deploy
        scale leave both unset and let AQE size output partitions).

        ``zorder_by`` (the OPTIMIZE ZORDER move): range-cluster this
        rewrite on an interleaved-bit Morton key over up to four NUMERIC
        columns instead of cluster_by — rows close in EVERY listed
        dimension land in the same files, so footer min/max stats prune
        scans filtered on ANY of them (q_fn_zorder is the key as a pure
        expression; here it drives the layout). Dimensions are linear
        min/max-scaled to 8-bit buckets via one tiny broadcast bounds
        agg — scale-free, no window, no sort beyond the write's range
        partitioning."""
        for _ in range(self.max_retries):
            v = latest_version(self.path)
            live = snapshot_files(self.path, v)
            df = self._scan(live)  # DV-applied: compaction MATERIALIZES
            # merge-on-read deletes; its commit resets the DV set.
            rel = [os.path.relpath(f, self.path) for f in live]
            saved_files, saved_cluster = self.num_files, self.cluster_by
            try:
                if max_files is not None:
                    self.num_files = max_files
                if zorder_by:
                    df = _with_zvalue(df, zorder_by)
                    n = self.num_files
                    out = (
                        df.repartitionByRange(n, "__z")
                        if n
                        else df.repartitionByRange("__z")
                    ).sortWithinPartitions("__z").drop("__z")
                    self.cluster_by = None  # layout already applied
                    df = out
                meta = {"compacted_files": len(live)}
                if zorder_by:
                    meta["zorder_by"] = list(zorder_by)
                return self._mutate(
                    "compact", df, remove=rel, base_version=v, meta=meta,
                    # the rewrite materialized every DV delete; reset the
                    # folded DV set so readers stop paying the anti-join
                    dv_base=[],
                )
            except ConcurrentCommitError:
                continue
            finally:
                self.num_files, self.cluster_by = saved_files, saved_cluster
        raise ConcurrentCommitError(f"compact of {self.path} kept losing races")

    def committed_batch_ids(self) -> set:
        """batchIds of every idempotent append in the log (the streaming
        sink's replay ledger)."""
        out = set()
        for c in self.history():
            bid = (c.get("meta") or {}).get("batchId")
            if bid is not None:
                out.add(bid)
        return out

    def append_batch(self, df: DataFrame, batch_id: int) -> int | None:
        """EXACTLY-ONCE streaming append — the foreachBatch sink body.
        Structured Streaming guarantees at-least-once foreachBatch
        delivery with a stable batch_id per epoch; recording the id in
        the commit's meta and skipping ids already in the log upgrades
        that to exactly-once across restarts (the Delta streaming-sink
        txn design: the COMMIT is the dedup ledger, so a crash between
        write and commit replays harmlessly — the orphan data dir is
        never referenced). Returns the committed version, or None if
        this batch was already in the log."""
        self._enforce_schema(df, allow_evolution=False)
        for _ in range(self.max_retries):
            if batch_id in self.committed_batch_ids():
                return None
            v = latest_version(self.path)
            try:
                return self._mutate(
                    "append", df, remove=[], base_version=v,
                    meta={"batchId": batch_id},
                )
            except ConcurrentCommitError:
                continue  # refold: maybe the winner WAS this batch_id
        raise ConcurrentCommitError(
            f"append_batch({batch_id}) to {self.path} kept losing races"
        )

    def restore(self, version: int) -> int:
        """RESTORE the table head to an earlier ``version`` as a NEW
        commit — pure METADATA: the target snapshot's file entries are
        re-added BY REFERENCE (never copied or rewritten; stats/rows
        carry over from their original add entries) and files added
        since are removed from the live set (still on disk for time
        travel until vacuum reaps them). History is preserved — the
        restore is itself a commit, so a mistaken restore can be
        restored away. The commit also re-records the TARGET's logged
        schema, so a restore across a schema evolution reverts the
        table schema too (the Delta RESTORE semantics); a target that
        PREDATES schema recording is reverted with an explicit
        null-schema marker, so schema_at(head) reports None (the
        target's state) instead of silently resolving to a later
        evolved schema (r11 advice).

        Cost: O(commits) driver-side log fold + one tiny JSON write —
        table size never appears. Fails fast (like read) if any target
        file was already vacuumed — and re-verifies after winning the
        commit so a vacuum racing this restore is handled loudly: the
        poisoned head is immediately superseded by an auto-committed
        compensating restore to the pre-restore state (metadata-only),
        then RestorePoisonedError carries both version numbers so
        callers can recover programmatically (r12 advice)."""
        for _ in range(self.max_retries):
            head = latest_version(self.path)
            if version == head:
                return head  # restoring to the head is a no-op
            target = _live_entries(self.path, version)
            target_dv = dv_state(self.path, version)
            target_all = list(target) + [e["path"] for e in target_dv]
            gone = sorted(
                rel
                for rel in target_all
                if not os.path.exists(os.path.join(self.path, rel))
            )
            if gone:
                raise FileNotFoundError(
                    f"cannot restore {self.path} to version {version}: "
                    f"{len(gone)}/{len(target_all)} of its data/DV files "
                    "were vacuumed (raise vacuum's keep_versions to "
                    "retain deeper restore)"
                )
            cur = _live_entries(self.path, head)
            add = [e for rel, e in sorted(target.items()) if rel not in cur]
            remove = sorted(rel for rel in cur if rel not in target)
            sch = self.schema_at(version)
            try:
                _commit(
                    self.path,
                    head + 1,
                    "restore",
                    add,
                    remove,
                    meta={
                        "restored_to": version,
                        "files_readded": len(add),
                        "files_removed": len(remove),
                        "files_rewritten": 0,
                    },
                    # {"__none__": true} is the explicit null-schema
                    # marker: the target predates schema recording, and
                    # the restore must revert to that state instead of
                    # letting a later commit's schema win the fold.
                    schema=(
                        sch.jsonValue() if sch is not None else {"__none__": True}
                    ),
                    # DV state is part of the snapshot: revert it too.
                    dv_base=target_dv,
                )
                # Check-then-commit closes a race: a concurrent vacuum
                # may have reaped target files between the existence walk
                # above and the commit write. Re-verify now that we own
                # the head; a poisoned restore is compensated (a
                # metadata-only restore back to the pre-restore state,
                # committed while we still hold the head) and reported
                # with both versions attached — never left as a silently
                # unreadable head, and never re-poisoned by a caller's
                # catch-and-retry loop (r12 advice).
                gone = sorted(
                    rel
                    for rel in target_all
                    if not os.path.exists(os.path.join(self.path, rel))
                )
                if gone:
                    comp: int | None = None
                    # The compensating commit re-adds the pre-restore
                    # snapshot BY REFERENCE — but a second vacuum racing
                    # in this same window (after the poisoned restore
                    # became the retained head) can have reaped files
                    # that only the pre-restore snapshot referenced.
                    # Committing a reference to a missing file would
                    # recreate the exact condition this mechanism exists
                    # to prevent (an unreadable head), so re-verify the
                    # WHOLE pre-restore snapshot (re-added entries plus
                    # the files shared with the target) first and fall
                    # through to the manual-remedy path if any are gone
                    # (r13 advice).
                    head_dv = dv_state(self.path, head)
                    comp_gone = sorted(
                        rel
                        for rel in list(cur) + [e["path"] for e in head_dv]
                        if not os.path.exists(os.path.join(self.path, rel))
                    )
                    if (
                        not comp_gone
                        and latest_version(self.path) == head + 1
                    ):
                        pre_sch = self.schema_at(head)
                        try:
                            _commit(
                                self.path,
                                head + 2,
                                "restore",
                                [cur[rel] for rel in remove],
                                sorted(e["path"] for e in add),
                                meta={
                                    "restored_to": head,
                                    "compensates": head + 1,
                                    "files_readded": len(remove),
                                    "files_removed": len(add),
                                    "files_rewritten": 0,
                                },
                                schema=(
                                    pre_sch.jsonValue()
                                    if pre_sch is not None
                                    else {"__none__": True}
                                ),
                                dv_base=head_dv,
                            )
                            comp = head + 2
                        except ConcurrentCommitError:
                            pass  # someone took the slot; report comp=None
                    raise RestorePoisonedError(
                        f"restore of {self.path} to version {version} "
                        f"committed as v{head + 1}, but a concurrent "
                        f"vacuum reaped {len(gone)}/{len(target)} of its "
                        "data files in the window — the restored head is "
                        "unreadable"
                        + (
                            f"; auto-committed compensating restore to the "
                            f"pre-restore state as v{comp}"
                            if comp is not None
                            else (
                                f"; the pre-restore snapshot lost "
                                f"{len(comp_gone)} data file(s) to the "
                                "same vacuum — compensation skipped; "
                                "restore to an intact version manually "
                                "to recover"
                                if comp_gone
                                else f"; compensation lost the head — "
                                f"restore back to version {head} "
                                "manually to recover"
                            )
                        ),
                        poisoned_version=head + 1,
                        compensated_version=comp,
                    )
                return head + 1
            except ConcurrentCommitError:
                continue
        raise ConcurrentCommitError(
            f"restore of {self.path} kept losing commit races"
        )

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Delete data files no snapshot in the retained version window
        references (plus orphans from aborted writers are NOT touched —
        they are invisible to readers and cheap; a production vacuum
        would age them out). Time travel older than the window dies with
        the files, as in every table format."""
        vs = _versions(self.path)
        keep = vs[-keep_versions:] if keep_versions > 0 else vs
        referenced: set[str] = set()
        for v in keep:
            referenced.update(snapshot_files(self.path, v))
            # DV sidecars are part of the snapshot: reaping a retained
            # version's DV file would silently RESURRECT its deleted rows
            referenced.update(
                os.path.join(self.path, e["path"])
                for e in dv_state(self.path, v)
            )
        ever: set[str] = set()
        for v in vs:
            rec = _read_commit(self.path, v)
            for f in rec.get("add", []):
                ever.add(os.path.join(self.path, f["path"]))
            for e in list(rec.get("dv", [])) + list(rec.get("dv_base", [])):
                ever.add(os.path.join(self.path, e["path"]))
        victims = sorted(ever - referenced)
        for f in victims:
            if os.path.exists(f):
                os.remove(f)
        return victims

    # -- internals -------------------------------------------------------
    def _find_touched_files(
        self, candidates: list[str], keys: DataFrame, key: str
    ) -> list[str]:
        """Exact touched-file set (the Delta findTouchedFiles join): scan
        ONLY the key column of the candidate files tagged with their
        file path, semi-join against the (pre-materialized, distinct)
        update keys, collect the distinct paths. Scan cost = one
        pruned-to-one-column pass over the stats candidates; the collect
        is O(touched files)."""
        import pyspark.sql.functions as F

        if not candidates:
            return []
        tagged = (
            self.spark.read.parquet(*candidates)
            .select(F.col(key), F.input_file_name().alias("__file"))
            .join(keys, key, "left_semi")
            .select("__file")
            .distinct()
        )
        # input_file_name returns a URI; normalize to plain paths so they
        # compare equal to the snapshot's os paths.
        paths = {
            r["__file"].removeprefix("file://").removeprefix("file:")
            for r in tagged.collect()
        }
        return [f for f in candidates if f in paths]

    def _split_by_stats(
        self, version: int, live: list[str], key: str, lo, hi
    ) -> tuple[list[str], list[str]]:
        """Partition the live file set into (touched, kept) by footer
        stats recorded in the log: a file whose [min, max] on ``key``
        misses [lo, hi] cannot contain an updated row."""
        stats: dict[str, dict] = {}
        for v in _versions(self.path):
            if v > version:
                break
            for f in _read_commit(self.path, v).get("add", []):
                stats[os.path.join(self.path, f["path"])] = f.get("stats", {})
        touched, kept = [], []
        for f in live:
            s = stats.get(f, {}).get(key)
            if s is None or lo is None:
                touched.append(f)  # no stats -> cannot prune, must rewrite
            elif s[0] <= hi and lo <= s[1]:
                touched.append(f)
            else:
                kept.append(f)
        return touched, kept

    def _mutate(
        self,
        op: str,
        df: DataFrame,
        remove: list[str],
        base_version: int,
        meta: dict | None = None,
        dv_base: list[dict] | None = None,
        schema_json: dict | None = None,
    ) -> int:
        version = base_version + 1
        # repartitionByRange, not hash repartition: range partitioning
        # gives each file a TIGHT, near-disjoint [min, max] on the
        # cluster column — that is what makes the footer-stats pruning
        # in merge() equivalent to partition pruning. A hash repartition
        # would scatter every key range across every file and no file
        # could ever be skipped. num_files pins the file count (tests,
        # or a caller that knows its sizing); default leaves it to AQE,
        # which right-sizes partitions to advisoryPartitionSizeInBytes —
        # the production file-sizing lever (note AQE may coalesce a tiny
        # commit to ONE file, where pruning trivially cannot engage).
        if self.cluster_by:
            out = (
                df.repartitionByRange(self.num_files, self.cluster_by)
                if self.num_files
                else df.repartitionByRange(self.cluster_by)
            )
        else:
            out = df
        add = _write_data(out, self.path, version, self.stats_cols)
        _commit(
            self.path, version, op, add, remove, meta,
            schema=schema_json if schema_json is not None else df.schema.jsonValue(),
            dv_base=dv_base,
        )
        return version
