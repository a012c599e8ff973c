"""Row-level change feed between table snapshots — CDC *out* of the
CDC-maintained table.

The engine ingests a CDC log and maintains a lake table; downstream
consumers (the incremental datapipe, other pipelines) want the inverse
surface: "what rows changed between snapshot A and snapshot B?" —
Iceberg's incremental scan / Delta's Change Data Feed. The reference
has no counterpart (its destination is a live Scylla table; consumers
would re-read Scylla CDC), but a lake sink can answer it exactly,
from metadata it already keeps, with no per-commit change log:

1. **Changed-bucket pruning (driver-side, no data IO).** Every
   data-changing commit rewrites a touched bucket's manifest entry — a
   write-once file whose path changes whenever the bucket's content can
   have changed (the same fingerprint the incremental datapipe diffs,
   ``bucket_index.entry_fingerprint``). Diffing the two snapshots'
   fingerprints yields a superset of buckets holding any changed row
   (equal fingerprint ⇒ identical immutable segment set ⇒ identical
   visible content; a compaction rewrite changes the fingerprint but
   diffs to nothing — extra work, never a wrong answer).
2. **Snapshot diff over changed buckets only.** ``read(version=...,
   buckets=changed)`` resolves both snapshots' visible rows partition-
   pruned to those buckets, and a full-outer pk equi-join classifies
   each key: ``insert`` (new side only), ``delete`` (old side only),
   ``update_preimage``/``update_postimage`` (both sides, any value or
   collection cell differing null-safely) — Delta CDF's row shape.

Scale posture: the fingerprint diff is a driver-side dict compare over
the (lazily-loaded, cached) sharded index — O(buckets) tiny JSON reads,
no Spark job; the data work is O(changed buckets) scan on each side
plus one pk-equi-join of those rows (AQE-planned; both sides are
bucket-pruned scans, never the whole table). A feed across k touched
buckets of a 10^5-bucket table reads 2k bucket's worth of rows, full
stop. Semantics note: this is a NET feed between snapshots (a row
updated twice shows once, with the endpoints' images) — exactly
Iceberg/Delta CDF semantics between non-adjacent versions; TTL expiry
is evaluated with ``as_of_ms=None`` on both sides, so the feed reports
written changes, not clock-driven expirations.

Schema evolution: the two snapshots may disagree on value/collection
columns (the union-rebase commit keeps adds from any writer); the feed
aligns both sides on the UNION of the two schemas with null fill, so
an added column appears in post-images and a pre-boundary row shows it
as NULL — the same shape a fresh reader of the new snapshot sees.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from .bucket_index import atomic_write_json, entry_fingerprint

#: change classification column, Delta-CDF style
CHANGE_TYPE_COL = "_change_type"

CT_INSERT = "insert"
CT_DELETE = "delete"
CT_UPDATE_PRE = "update_preimage"
CT_UPDATE_POST = "update_postimage"


def _diff_buckets(root_from: dict, root_to: dict) -> list[int]:
    """Bucket ids whose manifest fingerprint differs between two
    ALREADY-LOADED roots — the exact superset of buckets that can hold
    changed rows. Driver-side dict work only; the sharded index's
    entries load through the sink's write-once cache, so repeated
    iteration within a process costs no extra IO."""
    fp_from = {
        str(b): entry_fingerprint(e)
        for b, e in root_from["bucket_index"].items()
    }
    fp_to = {
        str(b): entry_fingerprint(e)
        for b, e in root_to["bucket_index"].items()
    }
    return sorted(
        (int(b) for b in set(fp_from) | set(fp_to)
         if fp_from.get(b) != fp_to.get(b)),
    )


def changed_buckets(sink, from_version: int,
                    to_version: int | None = None) -> list[int]:
    """Bucket ids whose manifest fingerprint differs between the two
    snapshots. Driver-side metadata only; no Spark job."""
    return _diff_buckets(
        sink._load_root(from_version), sink._load_root(to_version))


def _union_cols(root_from: dict, root_to: dict, key: str) -> list[str]:
    """Union of the two snapshots' registered columns, new snapshot's
    order first (matches what a fresh reader of v_to sees), then any
    columns only the old snapshot knew (dropped-by-rewrite history)."""
    to_cols = list(root_to[key])
    return to_cols + [c for c in root_from[key] if c not in to_cols]


def _align(df: DataFrame, other: DataFrame, cols: list[str]) -> DataFrame:
    """Add any of ``cols`` missing from ``df`` as typed NULLs (type
    taken from ``other``, which is guaranteed to carry them)."""
    have = set(df.columns)
    other_types = {f.name: f.dataType for f in other.schema.fields}
    for c in cols:
        if c not in have:
            df = df.withColumn(c, F.lit(None).cast(other_types[c]))
    return df


def changes_between(sink, from_version: int,
                    to_version: int | None = None) -> DataFrame:
    """Row-level net change feed ``from_version -> to_version`` (None =
    current). Returns ``(pk..., value cols..., collection cols...,
    _change_type)`` where ``_change_type`` ∈ {insert, delete,
    update_preimage, update_postimage}: inserts/post-images carry the
    new snapshot's values, deletes/pre-images the old snapshot's.
    Unchanged rows never appear, and only changed buckets are read."""
    root_from = sink._load_root(from_version)
    root_to = sink._load_root(to_version)
    if root_from["version"] > root_to["version"]:
        # a reversed pair would run fine but emit a plausible-looking
        # INVERTED feed (inserts as deletes, images swapped) — make the
        # misuse loud instead
        raise ValueError(
            f"from_version {root_from['version']} is newer than "
            f"to_version {root_to['version']}; a change feed runs "
            "forward (use rollback() to move a table backward)")
    pk = list(sink.table.primary_key)
    vcols = _union_cols(root_from, root_to, "value_columns")
    ccols = _union_cols(root_from, root_to, "collection_columns")
    vals = vcols + ccols

    if root_from["version"] == root_to["version"]:
        bsel: list[int] = []
    else:
        bsel = _diff_buckets(root_from, root_to)
    before = sink.read(version=root_from["version"], buckets=bsel)
    after = sink.read(version=root_to["version"], buckets=bsel)
    before = _align(before, after, vals)
    after = _align(after, before, vals)

    b = before.select(
        *pk,
        *[F.col(c).alias(f"__b_{c}") for c in vals],
        F.lit(True).alias("__b_p"),
    )
    a = after.select(
        *pk,
        *[F.col(c).alias(f"__a_{c}") for c in vals],
        F.lit(True).alias("__a_p"),
    )
    # pk equi-join over the changed buckets' rows only; `on=pk`
    # coalesces the key columns, full_outer keeps one-sided keys
    j = b.join(a, on=pk, how="full_outer")

    def canon(side: str, c: str):
        col = F.col(f"__{side}_{c}")
        if c in ccols:
            # maps are not comparable in Spark; sorted entry arrays are
            return F.array_sort(F.map_entries(col))
        return col

    diff = reduce(
        lambda x, y: x | y,
        [~canon("b", c).eqNullSafe(canon("a", c)) for c in vals],
    ) if vals else F.lit(False)
    bp = F.coalesce(F.col("__b_p"), F.lit(False))
    ap = F.coalesce(F.col("__a_p"), F.lit(False))
    row_b = F.struct(*[F.col(f"__b_{c}").alias(c) for c in vals])
    row_a = F.struct(*[F.col(f"__a_{c}").alias(c) for c in vals])
    # one pass: classify -> explode 0/1/2 change rows per key (the
    # unmatched WHEN yields NULL, which explode drops — unchanged keys
    # vanish without a second filter over the join)
    ent = (
        F.when(~bp & ap, F.array(
            F.struct(F.lit(CT_INSERT).alias("t"), row_a.alias("r"))))
        .when(bp & ~ap, F.array(
            F.struct(F.lit(CT_DELETE).alias("t"), row_b.alias("r"))))
        .when(bp & ap & diff, F.array(
            F.struct(F.lit(CT_UPDATE_PRE).alias("t"), row_b.alias("r")),
            F.struct(F.lit(CT_UPDATE_POST).alias("t"), row_a.alias("r")),
        ))
    )
    return j.select(*pk, F.explode(ent).alias("_e")).select(
        *pk,
        *[F.col(f"_e.r.{c}").alias(c) for c in vals],
        F.col("_e.t").alias(CHANGE_TYPE_COL),
    )


class ChangeFeedCursor:
    """Resumable change-feed consumption for a downstream pipeline —
    the row-level analog of the index maintainer's fingerprint state.

    ``poll()`` returns the feed from the last COMMITTED version to the
    table's current version (or None when caught up) plus a token;
    the consumer processes the batch, then calls ``commit(token)`` to
    advance. The cursor file is replaced atomically AFTER commit, so a
    crash between poll and commit re-delivers the same span —
    at-least-once, and safely so: the feed is a net diff whose
    consumer-side apply (``apply_changes``) is idempotent.

    Retention contract (same as Delta CDF / Iceberg incremental
    reads): ``vacuum(retain_snapshots=K)`` must keep at least the
    cursor's committed snapshot readable; a lagging cursor whose
    snapshot was vacuumed gets a loud FileNotFoundError from
    ``_load_root``, never a silently-wrong diff.

    A LIVE cursor does not rely on that count being guessed right: on
    every poll/commit it drops a TTL'd **cursor lease** under the
    table's ``cursors/`` dir naming its committed snapshot, and
    ``vacuum()`` retains leased snapshots regardless of
    ``retain_snapshots`` (the snapshot-horizon analog of the file-level
    read leases). The TTL (``lease_ttl_s``, default 1 h; 0 disables)
    bounds the flip side: an ABANDONED consumer's lease expires and is
    reaped, so it can never block snapshot GC forever — after expiry
    the count-based contract (and its loud failure) is back in force.
    During ``commit()`` the lease covers BOTH the old and new position,
    so no crash point leaves the consumer's resume snapshot
    unprotected. ``vacuum(reader_lease_s=0)`` tables ignore cursor
    leases too — the documented force-immediate-reap switch."""

    def __init__(self, sink, state_path: str,
                 lease_ttl_s: float = 3600.0):
        self.sink = sink
        self.state_path = state_path
        self.lease_ttl_s = lease_ttl_s
        self._minted_id: str | None = None

    def _state(self) -> dict | None:
        if not os.path.exists(self.state_path):
            return None
        with open(self.state_path) as f:
            return json.load(f)

    def position(self) -> int | None:
        """Last committed version, or None before the first commit."""
        st = self._state()
        return None if st is None else st["version"]

    # -- cursor lease ----------------------------------------------------
    def _cursor_id(self, st: dict | None) -> str:
        """Stable consumer identity: created on first use, persisted in
        the cursor state file so restarts refresh the SAME lease file
        (a lost state file mints a new id; the orphan lease expires)."""
        if st and st.get("id"):
            return st["id"]
        # mint once and remember it: a consumer whose state predates
        # ids (or that polls while caught up and so never commits) must
        # refresh ONE lease file per cursor, not litter cursors/ with a
        # new orphan per poll — and since callers (ParquetMirror)
        # construct a fresh cursor per sync, upgrade an existing state
        # file in place so every future object reuses the same id
        if self._minted_id is None:
            self._minted_id = uuid.uuid4().hex
            # persist the id even before the first commit (version
            # None): the bootstrap poll now leases its target, and a
            # crash-looping bootstrap must refresh ONE lease file, not
            # pin one head per attempt for a full lease_ttl_s each
            base = st if st is not None else {"version": None}
            parent = os.path.dirname(self.state_path)
            if parent:
                # create the state dir like ParquetMirror does for its
                # own: a missing parent would raise errno-2 here, which
                # poll()'s retry classifier cannot tell from a transient
                # vacuum race and would futilely retry 6 times
                os.makedirs(parent, exist_ok=True)
            tmp = self.state_path + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump({**base, "id": self._minted_id}, f)
            os.replace(tmp, self.state_path)
        return self._minted_id

    def _write_lease(self, cursor_id: str, versions: list[int]) -> None:
        if self.sink is None or self.lease_ttl_s <= 0 or not versions:
            return
        cdir = os.path.join(self.sink.path, "cursors")
        os.makedirs(cdir, exist_ok=True)
        full = os.path.join(cdir, f"{cursor_id}.json")
        tmp = full + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"versions": sorted({int(v) for v in versions}),
                       "expiry": time.time() + self.lease_ttl_s}, f)
        os.replace(tmp, full)

    def poll(self):
        """(feed DataFrame or None, token). None = caught up. On the
        FIRST poll (no committed position) the feed is the whole
        current snapshot as inserts — the bootstrap a new consumer
        needs — expressed as ``changes(v0=empty)`` semantics via a
        plain read.

        The cursor anchors on SNAPSHOT versions, not the live root's
        version counter: checkpoint-only commits (empty idle windows)
        bump the counter without writing a ``manifests/vN.json``, so
        targeting the raw counter would crash on a snapshot-less head
        — and such commits change no data, so the newest snapshot IS
        the newest consumable state.

        Polling the HEAD of a table under an aggressive concurrent
        vacuum is inherently racy: the snapshot listed newest can be
        superseded and reaped before this poll finishes planning over
        it. That race is detected (the tagged FileNotFoundError names
        the vanished version) and absorbed by re-polling — nothing was
        committed, so a retry is always safe. Only the cursor's own
        COMMITTED snapshot going missing is a real retention lapse,
        and that stays a loud error."""
        return retry_transient_reads(self._poll_once, self.position)

    def _poll_once(self):
        snaps = self.sink.snapshots()
        if not snaps:
            # no data commit yet (fresh table, or only checkpoint-only
            # commits): nothing to consume; commit(None-version) is a
            # no-op so a caller blindly committing the token is fine
            return None, {"version": None}
        cur = snaps[-1]
        st = self._state()
        pos = None if st is None else st["version"]
        # lease the span's endpoints the instant they are chosen, not
        # only at commit time (the commit-time lease write alone races
        # a vacuum whose cursor scan already happened — the quad
        # campaign's observed failure). The bootstrap poll (pos None)
        # leases its single endpoint, the target head, for the same
        # reason: a head vacuumed BEFORE the lease lands self-heals by
        # re-polling (nothing committed yet), but the lease must still
        # land before the long bootstrap read — commit() records the
        # version only after the consumer's batch, and a target
        # manifest reaped mid-batch would otherwise poison the cursor
        # into a next-poll retention lapse (the quad campaign's second
        # observed failure mode, surfaced under host-load stalls
        # longer than the vacuum's publication grace).
        if self.sink is not None and self.lease_ttl_s > 0:
            if pos is None:
                span = [cur]
            elif pos >= cur:
                span = [pos]
            else:
                span = [pos, cur]
            self._write_lease(self._cursor_id(st), span)
        if pos is not None and pos >= cur:
            return None, {"version": cur}
        if pos is None:
            snap = self.sink.read(version=cur)
            feed = snap.withColumn(CHANGE_TYPE_COL, F.lit(CT_INSERT))
        else:
            feed = changes_between(self.sink, pos, cur)
        return feed, {"version": cur}

    def commit(self, token: dict, extra: dict | None = None) -> None:
        """Advance the cursor to ``token``'s version. ``extra`` is an
        optional consumer payload persisted ATOMICALLY with the
        position in the same state file (readable back via
        ``extra()``) — the commit point a consumer whose derived state
        is NOT idempotent under redelivery needs (e.g. the additive
        incremental aggregate: its delta list must move in lockstep
        with the position, or a crash between two files double-counts
        a span). A commit WITHOUT ``extra`` preserves the previously
        recorded payload — extra persists until replaced."""
        if token.get("version") is None:
            return  # pre-first-commit poll: nothing to record
        new_v = int(token["version"])
        # refuse to record a snapshot whose manifest is already gone
        # (raises the tagged FileNotFoundError): with the poll-time
        # lease this cannot happen unless leases are disabled or the
        # consumer stalled past its own lease_ttl_s, but committing a
        # reaped version would poison the cursor into a loud failure
        # on the NEXT poll — failing here instead leaves the cursor at
        # its previous position, where the caller's retry loop
        # re-polls a live head and the idempotent apply reconverges.
        if self.sink is not None:
            self.sink._load_root(new_v)
        st = self._state()
        cursor_id = self._cursor_id(st)
        old_pos = None if st is None else st["version"]
        # lease BOTH endpoints before moving the state: a crash between
        # the two writes leaves the union protected; after the state
        # lands the lease narrows to the new position alone
        self._write_lease(
            cursor_id,
            [v for v in (old_pos, new_v) if v is not None])
        st_out = {"version": new_v, "id": cursor_id}
        if extra is not None:
            st_out["extra"] = extra
        elif st and "extra" in st:
            # extra persists until replaced: a consumer that commits a
            # position-only token (e.g. a caught-up confirmation) must
            # not silently drop the derived-state record a previous
            # commit anchored to the position
            st_out["extra"] = st["extra"]
        tmp = self.state_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(st_out, f)
        os.replace(tmp, self.state_path)
        self._write_lease(cursor_id, [new_v])

    def extra(self) -> dict | None:
        """The ``extra`` payload recorded by the last commit (None
        before the first commit or when none was passed)."""
        st = self._state()
        return None if st is None else st.get("extra")


def retry_transient_reads(step, position, attempts: int = 6):
    """Run ``step()`` retrying the transient vanished-file races a
    consumer planning against a concurrently-vacuumed table can hit
    (tagged FileNotFoundError from ``_load_root`` for a superseded
    head, or its JVM-side file-vanished twins) — the ONE retry
    classifier shared by every feed consumer (cursor poll, mirror
    sync, aggregate sync), so a new transient marker cannot drift
    between them. ``position`` is a callable returning the consumer's
    own COMMITTED snapshot version: THAT snapshot going missing is a
    retention lapse and is never retried."""
    last_err = None
    for _ in range(attempts):
        try:
            return step()
        except FileNotFoundError as e:
            gone = getattr(e, "snapshot_version", None)
            if gone is not None and gone == position():
                raise  # resume snapshot vacuumed: retention lapse
            if gone is None and not _is_transient_read_race(e):
                raise
            last_err = e  # vacuumed head: list again and re-plan
        except Exception as e:  # JVM-side file-vanished twins
            if not _is_transient_read_race(e):
                raise
            last_err = e
    raise last_err


def _is_transient_read_race(e: BaseException) -> bool:
    """True when a Spark-side error says files/paths the plan resolved
    no longer exist — the signature of reading a just-superseded
    snapshot while an aggressive concurrent vacuum reaps it (the
    JVM-level twin of the tagged FileNotFoundError from ``_load_root``).
    A consumer that has not yet committed its cursor can always replan
    from fresh metadata, so these are retryable, exactly like Delta's
    FileReadException → refresh-and-retry guidance."""
    s = str(e)
    return any(marker in s for marker in (
        "FileNotFoundException", "PATH_NOT_FOUND", "FILE_NOT_EXIST",
        "does not exist",
        # driver-side twin: the sharded index's lazy meta-shard loads
        # (bucket_index._load) raise a plain errno-2 FileNotFoundError
        # when vacuum reaps a superseded snapshot's meta files mid-plan
        "No such file or directory",
    ))


def apply_changes(base: DataFrame, feed: DataFrame, pk: list[str],
                  vals: list[str]) -> DataFrame:
    """Reconstruct the new snapshot from the old one plus a feed —
    the consumer-side MERGE a downstream pipeline would run (and the
    self-consistency check the tests assert): drop EVERY key the feed
    mentions, then union in its inserts and post-images. Removing all
    mentioned keys (not just deletes/pre-images) makes the apply
    IDEMPOTENT: re-applying a span to a base that already absorbed it
    (at-least-once redelivery after a crash) drops the previously
    applied images and re-adds the identical final ones, instead of
    duplicating re-delivered inserts."""
    gone = feed.select(*pk).distinct()
    incoming = feed.where(
        F.col(CHANGE_TYPE_COL).isin(CT_INSERT, CT_UPDATE_POST)
    ).select(*pk, *vals)
    kept = base.join(gone, on=pk, how="left_anti").select(*pk, *vals)
    return kept.unionByName(incoming)


class ParquetMirror:
    """Downstream materialization of a sink table driven ONLY by its
    change feed — the consumer the feed exists for, kept runnable as a
    separate OS process (``tools/mirror_consumer.py``) with zero
    coordination against a live writer.

    The mirror is bucket-partitioned parquet keyed by the SAME
    ``pmod(xxhash64(pk), num_buckets)`` routing as the source, so each
    ``sync()`` is O(changed): poll the cursor's feed span, rewrite only
    the mirror partitions of buckets whose fingerprints moved in that
    span (``apply_changes`` over the old partition + the feed's rows),
    drop emptied partitions (learned from an Observation riding the
    write job — one Spark job per sync), then commit the cursor.

    Crash recovery: redelivery of the SAME span converges because the
    net-diff apply is idempotent — but a crash between the partition
    write and the cursor commit makes the next sync's span a STRICT
    SUPERSET (committed position → the NEW head), whose feed never
    mentions a key whose value reverted across it, leaving the crashed
    write's intermediate image in place; a crashed bootstrap's leftover
    partitions can likewise hold keys deleted from the table since.
    So (a) the bootstrap apply uses an EMPTY base — its feed is the
    complete truth, leftover partitions are only ever overwritten or
    dropped, never read — and (b) every sync stages its touched-bucket
    list in ``_staged.json`` before the write and clears it after the
    cursor commit; a sync that finds a staged list rebuilds exactly
    those buckets from the target SNAPSHOT (partition-pruned read)
    instead of trusting their mirror partitions. Schema evolution
    arrives through the feed's union schema — the mirror aligns its
    stored partitions with typed NULLs on the next rewrite."""

    BUCKET_COL = "__bucket"

    def __init__(self, spark, path: str, lease_ttl_s: float = 3600.0):
        self.spark = spark
        self.path = path
        self.lease_ttl_s = lease_ttl_s
        os.makedirs(path, exist_ok=True)

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.path, "data")

    @property
    def _cursor_path(self) -> str:
        return os.path.join(self.path, "_cursor.json")

    @property
    def _schema_path(self) -> str:
        return os.path.join(self.path, "_schema.json")

    @property
    def _staged_path(self) -> str:
        return os.path.join(self.path, "_staged.json")

    def _load_staged(self, committed: int | None) -> set:
        """Bucket ids a previous sync wrote but never cursor-committed
        (its crash window) — their mirror partitions may hold images
        from a span the cursor does not record, so the recovering sync
        must rebuild them from the target snapshot, not apply a diff
        over them. A staged list whose target version is already
        committed (`to` <= the cursor position) is a leftover from a
        crash AFTER the commit but before the clear — those partitions
        are exact, so it is cleared here instead of forcing a pointless
        snapshot rebuild on the next non-empty span."""
        if not os.path.exists(self._staged_path):
            return set()
        try:
            with open(self._staged_path) as f:
                staged = json.load(f)
            buckets = {int(b) for b in staged["buckets"]}
        except (ValueError, KeyError, TypeError):
            # torn by power loss mid-write: the touched set is unknown,
            # so every bucket the mirror holds is untrusted — rebuild
            # them all (the bounded worst case; partitions are exact
            # after it and the file is then cleared)
            buckets = {
                int(d.split("=", 1)[1])
                for d in (os.listdir(self._data_dir)
                          if os.path.isdir(self._data_dir) else ())
                if d.startswith(self.BUCKET_COL + "=")
            }
            return buckets
        if (committed is not None and staged.get("to") is not None
                and int(staged["to"]) <= committed):
            self._clear_staged()
            return set()
        return buckets

    def _write_staged(self, buckets, version) -> None:
        tmp = self._staged_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"buckets": sorted(int(b) for b in buckets),
                       "to": version}, f)
        os.replace(tmp, self._staged_path)

    def _clear_staged(self) -> None:
        try:
            os.remove(self._staged_path)
        except FileNotFoundError:
            pass

    def _save_schema(self, schema, num_buckets: int | None = None) -> None:
        # the one shared durable atomic-JSON write (fsync'd), same as
        # every sink metadata file and the aggregate's registry.
        # ``num_buckets`` records the SOURCE routing the mirror's
        # partitions are physically laid out by — the value used in the
        # bucket expr of the sync that wrote them, NOT necessarily the
        # source's current count (a value-neutral rebucket span updates
        # nothing). A later sync seeing a different target routing must
        # full-rebuild (see _sync_once) or updated keys would leave
        # stale copies in old-routing partitions.
        atomic_write_json(self._schema_path,
                          {"ddl": schema.json(), "num_buckets": num_buckets})

    def _load_routing(self) -> int | None:
        if not os.path.exists(self._schema_path):
            return None
        with open(self._schema_path) as f:
            nb = json.load(f).get("num_buckets")
        return None if nb is None else int(nb)

    def _load_schema(self):
        if not os.path.exists(self._schema_path):
            return None
        from pyspark.sql.types import StructType

        with open(self._schema_path) as f:
            return StructType.fromJson(json.loads(json.load(f)["ddl"]))

    def position(self) -> int | None:
        return ChangeFeedCursor(None, self._cursor_path).position()

    def read(self) -> DataFrame:
        has_data = os.path.isdir(self._data_dir) and any(
            d.startswith(self.BUCKET_COL + "=")
            for d in os.listdir(self._data_dir)
        )
        # the mirror's own schema registry (persisted each sync, always
        # the union schema): explicit-schema reads skip the O(total
        # files) footer scan mergeSchema would pay, and partitions
        # written before a schema evolution read the newer columns as
        # NULL — the same mechanism as the source's manifest registry
        schema = self._load_schema()
        if schema is not None:
            if not has_data:
                # synced at least once, currently empty (all source
                # rows deleted) — a legitimately empty table, not an
                # un-built mirror
                return self.spark.createDataFrame([], schema=schema)
            return self.spark.read.schema(schema).parquet(self._data_dir)
        if not has_data:
            raise FileNotFoundError(
                f"no mirror data at {self._data_dir}; run sync() first")
        # pre-registry mirror layout: fall back to footer merging
        return self.spark.read.option("mergeSchema", "true").parquet(
            self._data_dir)

    def sync(self, sink) -> dict:
        """One consumption step; see class docstring. Like
        ``ChangeFeedCursor.poll``, a sync planning against the moving
        HEAD of an aggressively-vacuumed table can have its target
        snapshot reaped mid-plan — the cursor commits only at the very
        end, so the whole step is safely retryable; the cursor's own
        committed snapshot going missing stays a loud retention
        error."""
        return retry_transient_reads(
            lambda: self._sync_once(sink), self.position)

    def _sync_once(self, sink) -> dict:
        import shutil
        import time as _time

        from pyspark.sql import Observation

        t0 = _time.time()
        cur = ChangeFeedCursor(sink, self._cursor_path,
                               lease_ttl_s=self.lease_ttl_s)
        pos = cur.position()
        feed, tok = cur.poll()
        if feed is None:
            return {"applied_rows": 0, "changed": [], "removed": [],
                    "version": tok["version"],
                    "sync_s": _time.time() - t0}
        pk = list(sink.table.primary_key)
        vals = [c for c in feed.columns
                if c not in pk and c != CHANGE_TYPE_COL]
        # compute the changed-bucket set BEFORE persisting the feed:
        # these load root manifests and can raise the tagged
        # vacuumed-head error that sync() retries — raising after the
        # persist would leak a cached DataFrame per retry
        if pos is None:
            # bootstrap: the feed is the whole snapshot as inserts —
            # every bucket of that snapshot is "changed", PLUS any
            # partition a previously-crashed bootstrap left behind
            # (the writer may have emptied those buckets since; without
            # this they would never be rewritten or removed)
            changed = {
                int(b)
                for b in sink._load_root(tok["version"])["bucket_index"]
            }
            if os.path.isdir(self._data_dir):
                changed |= {
                    int(d.split("=", 1)[1])
                    for d in os.listdir(self._data_dir)
                    if d.startswith(self.BUCKET_COL + "=")
                }
            changed = sorted(changed)
        else:
            changed = changed_buckets(sink, pos, tok["version"])
        # buckets a previous sync wrote but never cursor-committed:
        # always part of this sync's rewrite set (their fingerprints
        # cannot have reverted — entry paths are write-once — but a
        # value-neutral span could otherwise skip them)
        recover = self._load_staged(pos)
        changed = sorted(set(int(b) for b in changed) | recover)
        # routing of the span's TARGET snapshot, pinned for every
        # bucket expr this sync evaluates (the sink instance's live
        # count could move under us if another rebucket raced)
        tgt_nb = int(sink._load_root(tok["version"]).get(
            "num_buckets", sink.num_buckets))
        stored_nb = self._load_routing()
        # ``stored_nb is None`` with data on disk means a legacy schema
        # file that predates routing capture (ADVICE r5): its
        # partitions may be routed by a superseded count, and skipping
        # the check would diff-apply under the NEW routing, leave stale
        # copies in old-routing partitions forever, and then record
        # tgt_nb so the mismatch is never seen again. Treat it exactly
        # like a detected mismatch — one full rebuild, after which the
        # routing is recorded and the cheap path resumes.
        legacy_unknown_nb = (
            stored_nb is None and os.path.isdir(self._data_dir))
        if pos is not None and (
                legacy_unknown_nb
                or (stored_nb is not None and stored_nb != tgt_nb)):
            # the source was REBUCKETED since this mirror's partitions
            # were written: they are routed by the old count, so a
            # diff-apply would rewrite a changed key's NEW-routing
            # partition while its stale copy sat untouched in the OLD
            # one. Rebuild everything from the target snapshot — the
            # recover path already does exactly that per bucket.
            all_b = {
                int(b)
                for b in sink._load_root(tok["version"])["bucket_index"]
            }
            if os.path.isdir(self._data_dir):
                all_b |= {
                    int(d.split("=", 1)[1])
                    for d in os.listdir(self._data_dir)
                    if d.startswith(self.BUCKET_COL + "=")
                }
            recover = set(recover) | all_b
            changed = sorted(set(changed) | all_b)
        if pos is not None:
            # value-neutral spans (compaction/vacuum moved fingerprints
            # but no row changed) would re-materialize identical
            # partitions; probe the feed once (persisted, so the apply
            # below reuses the computed rows instead of re-running the
            # snapshot diff) and just advance the cursor when empty —
            # unless staged buckets need rebuilding, which rides the
            # normal write path below
            feed = feed.persist()
            try:
                is_empty = feed.isEmpty()
            except BaseException:
                feed.unpersist()
                raise
            if is_empty and not recover:
                feed.unpersist()
                # still record the span's (union) schema: a span that
                # added a column and deleted its rows is value-neutral
                # but schema-advancing, and the registry invariant is
                # "always the union schema"
                self._save_schema(
                    feed.select(*pk, *vals)
                    .withColumn(self.BUCKET_COL, F.lit(0).cast("int"))
                    .schema,
                    # partitions untouched: keep recording the routing
                    # they were WRITTEN by, not the span target's (a
                    # value-neutral rebucket span must leave the
                    # mismatch visible for the next data span)
                    stored_nb)
                cur.commit(tok)
                return {"applied_rows": 0, "changed": [], "removed": [],
                        "version": tok["version"],
                        "sync_s": _time.time() - t0}

        try:
            empty_base = feed.select(*pk, *vals).where(F.lit(False))
            if pos is None:
                # bootstrap: the feed IS the complete truth — a crashed
                # earlier bootstrap's leftover partitions may hold keys
                # the table has since deleted, so they are only ever
                # overwritten or dropped (via `changed`), never read
                # as base
                base = empty_base
            else:
                try:
                    base = self.read().where(
                        F.col(self.BUCKET_COL).isin(
                            [int(b) for b in changed if b not in recover]))
                    # a mirror written before a schema evolution lacks
                    # the new columns the feed now carries — align,
                    # typed NULLs
                    base = _align(base, empty_base, vals).select(*pk, *vals)
                except FileNotFoundError:
                    base = empty_base
            out = apply_changes(base, feed, pk, vals)
            if recover and pos is not None:
                # rebuild staged buckets from the TARGET SNAPSHOT
                # (partition-pruned read): their mirror partitions may
                # hold a crashed span's intermediate images for keys
                # this span's net diff never mentions (value reverted
                # across the superset span), so the diff path cannot
                # repair them — the snapshot is the truth
                snap = _align(
                    sink.read(version=tok["version"],
                              buckets=sorted(recover)),
                    empty_base, vals,
                ).select(*pk, *vals)
                out = out.where(
                    ~sink._bucket_expr(tgt_nb).isin(sorted(recover))
                ).unionByName(snap)
            out = (
                out
                .withColumn(self.BUCKET_COL, sink._bucket_expr(tgt_nb))
                .repartition(max(len(changed) // 4, 1),
                             F.col(self.BUCKET_COL))
            )
            # stage the touched-bucket list before the write: cleared
            # only after the cursor commit, so any crash in between
            # marks these buckets untrusted for the recovering sync
            self._write_staged(changed, tok["version"])
            obs = Observation()
            (
                out.observe(obs, F.collect_set(F.col(self.BUCKET_COL))
                            .alias("b"),
                            F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(self.BUCKET_COL)
                .parquet(self._data_dir)
            )
        finally:
            if pos is not None:
                feed.unpersist()
        with_rows = {str(b) for b in obs.get["b"]}
        emptied = [b for b in (str(x) for x in changed)
                   if b not in with_rows]
        for b in emptied:
            shutil.rmtree(
                os.path.join(self._data_dir, f"{self.BUCKET_COL}={b}"),
                ignore_errors=True,
            )
        # persist the (monotone-union) schema BEFORE the cursor commit:
        # a crash in between leaves a newer schema with an older cursor,
        # which the redelivered span simply re-confirms
        self._save_schema(out.schema, tgt_nb)
        cur.commit(tok)
        self._clear_staged()
        return {"applied_rows": int(obs.get["n"]), "changed": changed,
                "removed": emptied, "version": tok["version"],
                "sync_s": _time.time() - t0}
