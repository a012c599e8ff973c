"""The engine driver — re-creation of the reference's Master/Worker
orchestration (scylla-cdc-lib master/Master.java:125-148,
worker/Worker.java:90-143) as a Spark microbatch loop.

Roles, mapped:

- **Master** (Master.java:132-142): enumerate generations from the
  metadata table starting at epoch 0, one at a time; our generations
  table is a tiny parquet read + driver collect (SURVEY.md S1/S2/A1).
- **Worker** (Worker.java:90-133): per generation, loop fetch windows
  (plans/windows.py) and consume each window. The reference runs one
  async chain per Vnode task and joins them with an ``allOf`` barrier
  (Worker.java:135-139); here ONE DataFrame job per window covers every
  stream group at once — Spark's task scheduler IS the fan-out, the job
  boundary IS the barrier.
- **Consumer** (replicator Main.java:674-683): the fold + merge pipeline
  (operators/fold.py + sinks/parquet_merge.py).

Exactly-once (SURVEY.md section 7 rule 3): windows are deterministic,
the apply is idempotent (monotone LWW), and the checkpoint — generation
index, per-group generation + last ``cdc$time``, pending range starts —
commits atomically WITH the data in the sink manifest. A failed batch is
simply re-run from the previous manifest (the reference re-reads a failed
window and relies on LWW the same way, Worker.java:105-114).

Replay and tail drive ONE window step (``Engine._step``), as the
reference runs one window loop for catch-up and live tail. Tail mode
adds the adaptive poll backoff (1s cropped / 10s busy / 30s idle,
Worker.java:28-30,130), the generation-age guard and a per-step log
re-list, and never closes the open generation; the clock is injected.
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..model import (
    COL_GENERATION,
    COL_OP,
    COL_STREAM_GROUP,
    COL_TIME,
    COL_TIME_BUCKET,
    COL_TS,
    DEFAULT_TABLE,
    EngineConfig,
    SEQ_MOD,
    TableConfig,
)
from ..operators.fold import fold_batch, normalize_log
from ..plans.windows import (
    EPOCH_START, FetchingWindow, NotReady, _pack_ms_bound,
    compute_fetching_window,
)
from ..sinks.parquet_merge import ParquetMergeSink


@dataclass
class ReplayStats:
    windows: int = 0
    rows: int = 0
    generations: int = 0
    wall_s: float = 0.0
    merge_s: float = 0.0
    preimage_mismatches: int = 0
    per_window: list = field(default_factory=list)

    @property
    def events_per_sec(self) -> float:
        return self.rows / self.wall_s if self.wall_s > 0 else 0.0


def _files_ms_bounds(files) -> tuple[int, int] | None:
    """(min, max) of `cdc$time.ms` over the files' footers, or None when
    any footer lacks usable statistics. Footers are opened from a small
    thread pool: this is pure driver-side metadata I/O, and a window
    check over a wide generation touches hundreds of write-once files —
    sequential opens were a measurable slice of the per-replay
    non-merge overhead (guide §5: keep the driver's single-threaded
    work off the critical path)."""
    stats = _parallel_file_stats(files)
    lo = hi = None
    for st in stats:
        if st is _STATS_EMPTY:
            continue
        if st is None:
            return None
        flo, fhi, _rows = st
        lo = flo if lo is None else min(lo, flo)
        hi = fhi if hi is None else max(hi, fhi)
    if lo is None:
        return None
    return lo, hi


# sentinel: a readable footer with zero row groups (no data, no bounds)
_STATS_EMPTY = object()


def _parallel_file_stats(files) -> list:
    """``_file_ms_rows`` for every file, preserving order, using a
    bounded thread pool (footer reads release the GIL in pyarrow's IO
    layer). Returns per-file ``(min, max, rows)`` tuples, ``None`` for
    unusable footers, or ``_STATS_EMPTY`` for empty files."""
    from concurrent.futures import ThreadPoolExecutor

    def one(f):
        st = _file_ms_rows(f)
        if st is not None:
            return st
        # distinguish "empty file" (harmless) from "no usable stats"
        try:
            import pyarrow.parquet as pq

            if pq.ParquetFile(f).metadata.num_row_groups == 0:
                return _STATS_EMPTY
        except Exception:
            pass
        return None

    files = list(files)
    if len(files) <= 2:
        return [one(f) for f in files]
    with ThreadPoolExecutor(max_workers=min(16, len(files))) as pool:
        return list(pool.map(one, files))


def _file_ms_rows(path: str) -> tuple[int, int, int] | None:
    """(min_ms, max_ms, num_rows) of one parquet file from its footer —
    driver-side statistics read, no data pages touched. None when the
    footer lacks usable `cdc$time.ms` min/max."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return None
    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return None
    if not md.num_row_groups:
        return None
    idx = next(
        (i for i in range(md.num_columns)
         if md.row_group(0).column(i).path_in_schema == "cdc$time.ms"),
        None,
    )
    if idx is None:
        return None
    lo = hi = None
    for gi in range(md.num_row_groups):
        st = md.row_group(gi).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return lo, hi, md.num_rows


def _footer_max_ms(dirs) -> int | None:
    """Max of the `cdc$time.ms` column over the given dirs' parquet
    footers (driver-side statistics read, no data pages touched;
    parallel footer opens like ``_files_ms_bounds``). An EMPTY file's
    footer has no bounds and, per the original sequential code, makes
    the whole answer unusable (conservative fall back to the bucket
    bound)."""
    files = [
        f for d in dirs
        for f in glob.glob(os.path.join(glob.escape(d), "*.parquet"))
    ]
    best = None
    for st in _parallel_file_stats(files):
        if st is None or st is _STATS_EMPTY:
            return None
        best = st[1] if best is None else max(best, st[1])
    return best


def make_sink(spark: SparkSession, target_path: str, table: TableConfig,
              cfg: EngineConfig) -> ParquetMergeSink:
    """The merge sink an ``EngineConfig`` describes — the one
    constructor ``Engine`` and ``StructuredTail`` share, so no sink
    setting is honored on one consumption surface and dropped on the
    other."""
    return ParquetMergeSink(
        spark,
        target_path,
        table,
        num_buckets=cfg.num_buckets,
        compact_threshold=cfg.compact_threshold,
        minor_compact_ratio=cfg.minor_compact_ratio,
        bloom_columns=(list(cfg.bloom_columns)
                       if cfg.bloom_columns is not None else None),
    )


def apply_slice(sink: ParquetMergeSink, table: TableConfig, mode: str,
                slice_df: DataFrame, ckpt: dict, new_ckpt: dict,
                shard: str | None = None) -> tuple[dict, int]:
    """fold -> preimage check -> merge of one normalized log slice, the
    apply every consumption surface runs (replay, tail and
    StructuredTail). The fold resumes the range-delete pairing from the
    pending bounds in ``ckpt`` — unclosed starts (the reference's
    RangeTombstoneState, Main.java:491-531) and orphan ends (possible
    only under out-of-order streaming delivery). ``merge()`` commits
    ``new_ckpt`` with the data and fills its pending keys from the
    tombstone sidecar unless the caller pinned them. Returns the merge
    stats and the op-0 mismatch count (``mode="preimage"`` only)."""
    starts, ends = (
        [{**p, "stream_id": bytes.fromhex(p["stream_id"])}
         for p in ckpt.get(k, [])]
        for k in ("pending_ranges", "pending_ends")
    )
    fold = fold_batch(slice_df, table, starts, mode=mode,
                      pending_range_ends=ends)
    mismatches = 0
    if mode == "preimage":
        from ..operators.preimage import verify_preimages

        mismatches = verify_preimages(sink, table, slice_df, fold)
    return sink.merge(fold, new_ckpt, shard=shard), mismatches


class Engine:
    """``Engine(spark, log_dir, generations_path, target_path).replay()``
    — the public surface mirroring ``new ScyllaCDC(...); fetchChanges();
    finish()`` (scylla-cdc-lib ScyllaCDC.java:17-40)."""

    def __init__(
        self,
        spark: SparkSession,
        log_dir: str,
        generations_path: str,
        target_path: str,
        table: TableConfig = DEFAULT_TABLE,
        cfg: EngineConfig | None = None,
        clock=None,
        time_bucket_ms: int = 600_000,
        stream_groups: list[int] | None = None,
        group_salt: dict[int, tuple[int, int]] | None = None,
        shard_id: str | None = None,
    ):
        self.spark = spark
        self.log_dir = log_dir
        self.generations_path = generations_path
        self.table = table
        self.cfg = cfg or EngineConfig()
        self.clock = clock  # ms-returning callable; None => replay mode
        self.time_bucket_ms = time_bucket_ms
        # Task assignment (reference: Task = subset of stream ids handed
        # to one worker, scylla-cdc-lib Task.java:9-27 / Master.java
        # splitStreams): an Engine owning a stream-group subset replays
        # ONLY those partitions. Because a partition key maps to exactly
        # one stream per generation, group subsets shard the key space —
        # several Engines with disjoint subsets and separate targets form
        # a multi-executor deployment with no cross-executor traffic.
        # `is not None`, not truthiness: an explicit [] means "this
        # engine owns NO groups" (a fleet driver sharding N groups over
        # k>N engines hands some engines an empty assignment) — mapping
        # it to None would make those engines replay EVERYTHING,
        # breaking shard disjointness
        self.stream_groups = (
            sorted(stream_groups) if stream_groups is not None else None)
        # Hot-group salting (the north-star skew control at the TASK
        # level): ``group_salt[g] = (k, i)`` means this Engine owns only
        # the keys of group g whose clustering-key hash ≡ i (mod k).
        # Write ops (0-3, 9) carry a path and filter by the salt;
        # tombstone ops 4-8 replicate to every salt shard of g — correct
        # because a shard's merge only materializes its own keys, so a
        # partition/range delete applied in all shards deletes each key
        # exactly where it lives. k engines with residues 0..k-1 are
        # key-disjoint and their targets union to the full table.
        self.group_salt = dict(group_salt) if group_salt else {}
        # The stream groups this engine reads, whole or salted; None =
        # unsharded (every group). The one ownership set behind the
        # scan predicate, the footer-stats globs and the lineage stamp.
        self._owned = (
            None if self.stream_groups is None and not self.group_salt
            else set(self.stream_groups or []) | set(self.group_salt))
        # Multi-writer shared target: several sharded Engines (disjoint
        # stream_groups / group_salt residues) may consume into ONE
        # table concurrently — commits serialize via the sink's
        # cross-process lock and each shard's checkpoint lives under
        # its own key, replaced only by its owner. None = single-writer
        # legacy (flat checkpoint). The shard id must be stable across
        # restarts (it addresses the resume state).
        self.shard_id = shard_id
        self._log_df = None  # lazily-created base scan, reused per window
        # (gen, tb) -> (files_tuple, (min_ms, max_ms)|None); superseded
        # file sets are REPLACED, not accumulated — a long-running tail
        # appending to a bucket keeps exactly one entry per bucket
        self._tb_bounds_cache: dict = {}
        # path -> (min_ms, max_ms, rows) from parquet footers; log
        # files are write-once, so SUCCESSFUL reads never go stale —
        # an unreadable footer (a file listed mid-write in live tail)
        # is NOT cached, so it is retried once fully written
        self._file_stats_cache: dict = {}
        self._gens_cache: list | None = None
        self._gens_fetched_ms: int = -(10**18)
        self.sink = make_sink(spark, target_path, table, self.cfg)

    # ------------------------------------------------------------------
    def _group_dirs(self) -> list[str]:
        """``stream_group=`` dir patterns this engine reads: a sharded
        engine polling a window whose events live only in foreign
        groups must see it as empty (checkpoint-only advance), and a
        SALT-ONLY engine owns slices of exactly the salted groups."""
        if self._owned is None:
            return ["stream_group=*"]
        return [f"stream_group={g}" for g in sorted(self._owned)]

    def _owned_groups(self, gstart: int) -> list[int]:
        """Owned stream groups present on disk in a generation (one
        directory listing) — the groups whose checkpoint lineage a
        window stamps (a sharded consumer must not claim foreign
        progress)."""
        try:
            names = os.listdir(os.path.join(self.log_dir,
                                            f"generation={gstart}"))
        except OSError:
            return []
        present = (int(d.split("=", 1)[1]) for d in names
                   if d.startswith("stream_group="))
        return sorted(g for g in present
                      if self._owned is None or g in self._owned)

    def _close_ms(self, gstart: int) -> int:
        """Replay's close bound for the open generation: one past the
        exact max event ms from PARQUET FOOTER STATISTICS of its last
        time bucket's files — pure metadata, no Spark job (at lake scale
        this role belongs to the table-format metadata service, e.g.
        Iceberg manifests' per-file column bounds). Closing at the true
        last event instead of the bucket bound saves up to
        time_bucket/window_cap empty microbatch windows; the bucket
        bound is the fallback when stats are unusable."""
        tb_dirs: dict[int, list[str]] = {}
        for d in glob.glob(os.path.join(
                glob.escape(self.log_dir), f"generation={gstart}",
                "stream_group=*", "time_bucket=*")):
            tb_dirs.setdefault(int(d.rsplit("=", 1)[1]), []).append(d)
        max_tb = max(tb_dirs, default=0)
        max_ms = _footer_max_ms(tb_dirs.get(max_tb, ()))
        if max_ms is not None:
            return max_ms + 1
        return (max_tb + 1) * self.time_bucket_ms

    def _window_has_data(self, gstart: int, w: FetchingWindow) -> bool:
        """Metadata-only emptiness test for a fetch window: per
        (generation, time_bucket) event-ms bounds from parquet FOOTER
        statistics (cached per file set; the Iceberg-manifest role). A
        window whose ms range intersects no file's [min, max] can be
        checkpoint-advanced without running ANY Spark job — in live
        tail an idle poll then costs zero cluster work. Conservative:
        unreadable/absent stats count as data."""
        start_ms = (w.start_ts + 1) // SEQ_MOD if w.start_ts != EPOCH_START else 0
        end_ms = w.end_ts // SEQ_MOD
        lo_tb = start_ms // self.time_bucket_ms
        hi_tb = end_ms // self.time_bucket_ms
        if hi_tb - lo_tb > 64:  # huge window (epoch-0 backfill): don't bother
            return True
        base = os.path.join(glob.escape(self.log_dir), f"generation={gstart}")
        sg_dirs = self._group_dirs()
        for tb in range(lo_tb, hi_tb + 1):
            files = tuple(sorted(
                f for sg in sg_dirs
                for f in glob.glob(os.path.join(
                    base, sg, f"time_bucket={tb}", "*.parquet"))))
            if not files:
                continue
            key = (gstart, tb)
            cached = self._tb_bounds_cache.get(key)
            if cached is None or cached[0] != files:
                b = _files_ms_bounds(files)
                cached = (files, b)
                if b is not None:
                    # cache only readable stats: a footer missing
                    # mid-write must be retried once the file is whole
                    self._tb_bounds_cache[key] = cached
            bounds = cached[1]
            if bounds is None:  # stats unavailable -> assume data
                return True
            if bounds[0] <= end_ms and bounds[1] >= start_ms:
                return True
        return False

    # ------------------------------------------------------------------
    def _window_file_stats(self, gstart: int, start_ms: int,
                           end_ms: int) -> list | None:
        """Footer stats ``(min_ms, max_ms, rows)`` of every log file that
        could hold events in ``[start_ms, end_ms)``: one listing of the
        generation's actual ``time_bucket=`` dirs (never an iteration
        over the numeric bucket range — an epoch-0 backfill window spans
        millions of bucket ids but only the existing dirs matter),
        filtered to the overlapping buckets, stats cached per write-once
        file. None when any candidate file lacks usable stats."""
        base = os.path.join(glob.escape(self.log_dir), f"generation={gstart}")
        lo_tb = start_ms // self.time_bucket_ms
        hi_tb = (end_ms - 1) // self.time_bucket_ms
        # owned groups only: estimating over ALL groups would
        # systematically overestimate and over-split row-capped windows
        out = []
        for sg in self._group_dirs():
            for tbdir in glob.glob(os.path.join(base, sg, "time_bucket=*")):
                tb = int(tbdir.rsplit("=", 1)[1])
                if tb < lo_tb or tb > hi_tb:
                    continue
                for f in glob.glob(os.path.join(glob.escape(tbdir),
                                                "*.parquet")):
                    st = self._file_stats_cache.get(f)
                    if st is None:
                        st = _file_ms_rows(f)
                        if st is not None:
                            # cache successes only: a mid-write footer
                            # must be retried next poll, not poison the
                            # cache (and disable row cropping) forever
                            self._file_stats_cache[f] = st
                    if st is None:
                        return None
                    out.append(st)
        return out

    def _crop_window_to_rows(self, gstart: int, w: FetchingWindow
                             ) -> FetchingWindow:
        """Shrink a fetch window until its estimated event count fits
        ``cfg.max_window_rows`` (binary search on the monotone
        footer-stats estimate). Opt-in: the epoch-0 backfill window is
        exempt from the reference's time cap by protocol
        (FetchingWindowFactory.java:45), so a huge backlog folds as one
        window — fine for Spark's spilling shuffle, but a crash or task
        failure then retries the entire backfill and no checkpoint lands
        until it completes; the row cap trades measured per-window
        overhead (see EngineConfig.max_window_rows) for bounded retry
        cost. A cropped window is never ``last_window``; the replay loop
        simply chains the next window from the new bound, identical to a
        time-cropped window."""
        cap = self.cfg.max_window_rows
        if not cap:
            return w
        start_ms = (w.start_ts + 1) // SEQ_MOD if w.start_ts != EPOCH_START else 0
        end_ms = w.end_ts // SEQ_MOD + 1
        stats = self._window_file_stats(gstart, start_ms, end_ms)
        if stats is None:
            return w  # stats unavailable — keep protocol behavior

        def est(e_ms: int) -> float:
            # uniform-density model within each file (the same assumption
            # Iceberg/AQE make when splitting by file bounds): a file
            # contributes rows * overlap_ms / file_span_ms
            total = 0.0
            for fmin, fmax, rows in stats:
                overlap = min(e_ms - 1, fmax) - max(start_ms, fmin) + 1
                if overlap > 0:
                    total += rows * (overlap / (fmax - fmin + 1))
            return total

        if est(end_ms) <= cap:
            return w
        lo, hi = start_ms + 1, end_ms  # lo = smallest non-empty end
        while hi - lo > 1:
            mid = (lo + hi) // 2
            if est(mid) <= cap:
                lo = mid
            else:
                hi = mid
        # lo >= start_ms + 1, so new_end > w.start_ts always: when even
        # 1 ms of data exceeds the cap, the result is that minimal 1 ms
        # window, over the cap — time is the finest split grain
        new_end = _pack_ms_bound(lo)
        if new_end >= w.end_ts:
            return w
        return FetchingWindow(start_ts=w.start_ts, end_ts=new_end,
                              last_window=False, cropped=True)

    # ------------------------------------------------------------------
    def generations(self) -> list[tuple[int, list[bytes]]]:
        """Generation metadata (time -> stream set), ordered by time.
        Read driver-side with pyarrow: this is a tiny metadata table
        (the reference's system_distributed.cdc_generation read, S1/S2)
        and a Spark job here costs ~0.2-0.3 s of pure scheduling per
        engine construction — paid by every replay, tail step quiet
        period, and contract entry. Falls back to the Spark read if
        pyarrow cannot load the path (e.g. an exotic layout)."""
        try:
            import pyarrow.parquet as pq

            t = pq.read_table(self.generations_path)
            recs = sorted(t.to_pylist(), key=lambda r: r["time"])
            return [
                (r["time"], [bytes(s) for s in r["streams"]]) for r in recs
            ]
        except Exception:
            rows = (
                self.spark.read.parquet(self.generations_path)
                .orderBy("time")
                .collect()
            )
            return [(r["time"], [bytes(s) for s in r["streams"]]) for r in rows]

    def _read_window(self, gstart: int, w: FetchingWindow) -> DataFrame:
        """Windowed log scan (SURVEY.md S3): partition pruning on
        (generation, time_bucket) + fine int64 predicate on cdc$ts.
        The stream-set predicate of the reference (``cdc$stream_id IN``)
        is subsumed by the generation partition (its dirs contain exactly
        that generation's streams)."""
        start_ms = (w.start_ts + 1) // SEQ_MOD if w.start_ts != EPOCH_START else 0
        end_ms = w.end_ts // SEQ_MOD + 1
        if self._log_df is None:
            # one file listing + schema read per Engine, not per window
            # (a replay chains many windows over a static log; tail mode
            # resets this cache per step to pick up new files)
            self._log_df = self.spark.read.parquet(self.log_dir)
        df = (
            self._log_df
            .where(F.col(COL_GENERATION) == gstart)
            .where(
                (F.col(COL_TIME_BUCKET) >= start_ms // self.time_bucket_ms)
                & (F.col(COL_TIME_BUCKET) <= end_ms // self.time_bucket_ms)
            )
        )
        if self._owned is not None:
            # task-assignment predicate (P2): prunes whole partition
            # dirs for wholly-owned groups; salted (hot) groups scan the
            # group but keep only this shard's keys + all tombstones
            whole = [
                g for g in (self.stream_groups or [])
                if g not in self.group_salt
            ]
            pred = F.col(COL_STREAM_GROUP).isin(whole) if whole else F.lit(False)
            ck_cols = [F.col(c) for c in self.table.clustering_key]
            tomb_op = F.col(COL_OP).between(4, 8)
            for g, (k, i) in self.group_salt.items():
                shard = tomb_op | (
                    F.pmod(F.xxhash64(*ck_cols), F.lit(k)) == F.lit(i)
                )
                pred = pred | ((F.col(COL_STREAM_GROUP) == g) & shard)
            df = df.where(pred)
        # Coarse ms-range pushdown (round 6): the fine predicate below
        # is on the DERIVED packed ``cdc$ts`` (ms*2^21+seq), which can
        # never reach the parquet reader — so a window covering part of
        # a time bucket still decoded every row group in that bucket's
        # files. The same window expressed on the RAW nested
        # ``cdc$time.ms`` field IS pushdown-eligible (nested predicate
        # pushdown, parquet row-group stats): ts > start_ts implies
        # ms >= (start_ts+1)//2^21 and ts <= end_ts implies
        # ms <= end_ts//2^21, so the coarse filter is provably implied
        # by the fine one — identical rows, plus row-group skipping for
        # sub-bucket windows (the live-tail and gate regime; the bench's
        # generation-wide windows are unaffected either way).
        df = df.where(
            (F.col(COL_TIME + ".ms") >= start_ms)
            & (F.col(COL_TIME + ".ms") <= w.end_ts // SEQ_MOD)
        )
        df = normalize_log(df)
        return df.where(
            (F.col(COL_TS) > w.start_ts) & (F.col(COL_TS) <= w.end_ts)
        )

    # ------------------------------------------------------------------
    def _checkpoint(self) -> dict:
        """This engine's resume state from the sink manifest, or the
        fresh-start skeleton: generation index, last consumed
        ``cdc$ts``, per-group lineage, pending range starts."""
        return self.sink.checkpoint(shard=self.shard_id) or {
            "gen_index": 0,
            "last_ts": EPOCH_START,
            "groups": {},
            "pending_ranges": [],
            "done": False,
        }

    def _step(self, gens: list, gi: int, ckpt: dict,
              gen_end_ms: int | None, now_ms: int) -> dict:
        """One fetch window of generation ``gens[gi]``, resuming from
        ``ckpt`` — the per-window protocol replay() and tail() both
        drive (Worker.java:90-133). Plan and crop the window; commit it
        checkpoint-only when footer stats prove it empty (zero Spark
        jobs), else read -> fold -> preimage check -> merge with the
        checkpoint riding the data commit. The modes differ only in
        the inputs: ``gen_end_ms`` (replay closes the open generation
        at its footer max, tail never does) and the clock ``now_ms``.

        Returns the window record (``rows`` = applied key-state rows,
        ``tomb_rows`` = sidecar rows) with the committed checkpoint
        under ``"ckpt"``. Raises NotReady while the watermark has not
        passed the window start."""
        gstart = gens[gi][0]
        w = self._crop_window_to_rows(gstart, compute_fetching_window(
            ckpt["last_ts"], gen_end_ms, now_ms, self.cfg))
        is_last_gen = gi + 1 >= len(gens)
        # per-group lineage: generation + last_ts onto every owned group
        # present on disk
        groups = dict(ckpt.get("groups", {}))
        for g in self._owned_groups(gstart):
            groups[str(g)] = {"generation": gstart, "last_ts": w.end_ts}
        new_ckpt = {
            # the OPEN (final) generation's close bound is only the
            # footer max at replay time — the generation can keep
            # growing. Persist gen_index pointing AT it (done=True
            # still short-circuits a re-replay), so a later tail()
            # resumes INSIDE it from last_ts and consumes post-replay
            # appends (tail reads only generation==gens[gi])
            "gen_index": gi + 1 if (w.last_window and not is_last_gen)
            else gi,
            "last_ts": w.end_ts,
            "groups": groups,
            "done": bool(w.last_window and is_last_gen),
        }
        if w.last_window:
            # generation barrier (Worker.java:135-139): pending range
            # bounds never straddle generations — pin [] so a crash
            # right after the last window cannot resume with stale
            # starts injected into the next generation, where a later
            # END op could mis-pair into a spurious tombstone
            new_ckpt["pending_ranges"] = []
            new_ckpt["pending_ends"] = []
        rec = {"gen": gstart, "start": w.start_ts, "end": w.end_ts,
               "cropped": w.cropped, "last_window": w.last_window}
        if not self._window_has_data(gstart, w):
            # the window provably holds no events: advance lineage with
            # a manifest-only commit (an empty window cannot close or
            # open a range, so pending bounds carry over untouched)
            for k in ("pending_ranges", "pending_ends"):
                new_ckpt.setdefault(k, ckpt.get(k, []))
            self.sink.commit_checkpoint(new_ckpt, shard=self.shard_id)
            return {**rec, "rows": 0, "tomb_rows": 0, "merge_s": 0.0,
                    "skipped": True, "ckpt": new_ckpt}
        # One window = one bounded slice (the reference's fetch window
        # caps memory the same way). Not cached: each consumer re-scans
        # the parquet with its own opcode/column pushdown (the tombstone
        # passes touch only ops 4-8 row groups), which measured faster
        # than materializing the full slice. Pending ranges are left
        # for merge() to fill from the tombstone sidecar write (one
        # fewer Spark job per window than collecting here).
        mstats, mismatches = apply_slice(
            self.sink, self.table, self.cfg.mode,
            self._read_window(gstart, w), ckpt, new_ckpt,
            shard=self.shard_id)
        # row metrics come from the delta and sidecar parquet footers
        # (driver-side, no extra Spark job)
        return {**rec, "rows": mstats.get("delta_rows", 0),
                "tomb_rows": mstats.get("tomb_rows", 0),
                "merge_s": mstats.get("merge_s", 0.0),
                "preimage_mismatches": mismatches, "ckpt": new_ckpt}

    # ------------------------------------------------------------------
    def replay(self) -> ReplayStats:
        """Consume the whole log to exhaustion (batch replay). Resumes
        from the sink-manifest checkpoint if one exists. Per-window row
        metrics come from the delta and sidecar parquet footers and
        cost no Spark job of their own."""
        t_start = time.time()
        stats = ReplayStats()
        gens = self.generations()
        ckpt = self._checkpoint()
        gi = ckpt["gen_index"]
        close_ms = None  # the open generation's footer close, read once
        while not ckpt.get("done") and gi < len(gens):
            if gi + 1 < len(gens):
                gen_end_ms = gens[gi + 1][0]
            else:
                # replay mode closes the open generation at log
                # exhaustion
                if close_ms is None:
                    close_ms = self._close_ms(gens[gi][0])
                gen_end_ms = close_ms
            if _pack_ms_bound(gen_end_ms) <= ckpt["last_ts"]:
                gi += 1  # generation already drained (resume edge)
                continue
            now_ms = (self.clock() if self.clock
                      else gen_end_ms + self.cfg.late_writes_window_ms + 1)
            try:
                rec = self._step(gens, gi, ckpt, gen_end_ms, now_ms)
            except NotReady:
                if self.clock is None:
                    raise  # cannot happen in replay mode
                time.sleep(self.cfg.poll_idle_s * self.cfg.sleep_scale)
                continue
            ckpt = rec.pop("ckpt")
            stats.windows += 1
            stats.rows += rec["rows"]
            stats.merge_s += rec["merge_s"]
            stats.preimage_mismatches += rec.get("preimage_mismatches", 0)
            stats.per_window.append(rec)
            if rec["last_window"]:
                # generation barrier (Worker.java:135-139): switch
                # stream sets
                stats.generations += 1
                gi += 1
        stats.wall_s = time.time() - t_start
        return stats

    # ------------------------------------------------------------------
    def tail(self, max_windows: int = 10) -> ReplayStats:
        """Live-tail mode: like replay but honors the watermark with the
        reference's 3-tier poll backoff (cropped 1s / busy 10s / idle
        30s, Worker.java:28-30). Bounded by max_windows for testability."""
        if self.clock is None:
            self.clock = lambda: int(time.time() * 1000)
        stats = ReplayStats()
        t0 = time.time()
        for _ in range(max_windows):
            s = self._tail_step()
            if s is None:
                time.sleep(self.cfg.poll_idle_s * self.cfg.sleep_scale)
                continue
            stats.windows += 1
            stats.rows += s["rows"]
            stats.preimage_mismatches += s.get("preimage_mismatches", 0)
            delay = (
                self.cfg.poll_cropped_s
                if s["cropped"]
                else (self.cfg.poll_busy_s if s["rows"] else self.cfg.poll_idle_s)
            )
            # real 1/10/30 s tiers by default (Worker.java:28-30,130);
            # tests shrink sleep_scale instead of the tiers themselves
            time.sleep(delay * self.cfg.sleep_scale)
        stats.wall_s = time.time() - t0
        return stats

    def _generations_cached(self) -> list:
        """Generations list with the reference's 10 s quiet period
        between metadata re-reads (UpdateableGenerationMetadata.java:29)
        — inside the quiet window an idle tail poll runs no Spark job
        at all (combined with footer-stats window pruning)."""
        now = self.clock() if self.clock else None
        if (
            self._gens_cache is not None
            and now is not None
            and now - self._gens_fetched_ms < self.cfg.gen_refresh_quiet_ms
        ):
            return self._gens_cache
        self._gens_cache = self.generations()
        if now is not None:
            self._gens_fetched_ms = now
        return self._gens_cache

    def _tail_step(self) -> dict | None:
        self._log_df = None  # re-list: tail mode must see newly appended files
        gens = self._generations_cached()
        ckpt = self._checkpoint()
        gi = ckpt["gen_index"]
        if gi >= len(gens):
            return None
        # generation-age guard (GenerationsFetcher.java:88): a generation
        # younger than 30 s may still be publishing its stream list —
        # live tail must not start consuming it yet (replay mode is
        # exempt: a historical log's generations are complete by
        # definition, matching the reference where the guard lives in
        # live generation discovery only)
        if self.clock() - gens[gi][0] < self.cfg.min_generation_age_ms:
            return None
        # live tail never closes the open generation
        gen_end_ms = gens[gi + 1][0] if gi + 1 < len(gens) else None
        try:
            rec = self._step(gens, gi, ckpt, gen_end_ms, self.clock())
        except NotReady:
            return None
        if rec.get("skipped"):
            return {"rows": 0, "cropped": rec["cropped"], "skipped": True}
        # backoff signal = consumed CHANGES, not just applied state
        # rows: a tombstone-only window (ops 4-8) writes an empty
        # key-state delta but real sidecar rows — the reference keys
        # its busy tier on consumed changes (Worker.java:130), so a
        # delete storm must poll at the busy tier, not idle
        return {"rows": rec["rows"] + rec["tomb_rows"],
                "cropped": rec["cropped"],
                "preimage_mismatches": rec["preimage_mismatches"]}
