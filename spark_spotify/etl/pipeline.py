"""End-to-end incremental medallion pipeline — the reference's
``daily_etl_pipeline`` DAG (daily_etl_pipeline.py:38-47, task chain :808-818)
as one Spark job over versioned Parquet snapshots.

Stage mapping (reference task → here):

| get_sync_watermark (:53-84)            | max watermark from the etl_log table (epoch fallback) |
| sync_listening_to_raw_staging (:111)   | bronze: anti-join novel delta, APPEND part (O(delta) write) |
| process_time_fields (:227-295)         | silver: ``clean_events`` of the DELTA only, merged on event_id |
| sync_dimensions_group (:301-430)       | user dim: associative MIN/SUM combine of existing+delta (the ON CONFLICT DO UPDATE total_plays upsert, :365-367, done right); event-type dim: recomputed from bronze (5 rows; needs COUNT(DISTINCT user), which is not snapshot-associative — the 100 TB path keeps an HLL sketch per dim row instead) |
| load_to_warehouse (:436-503)           | fact delta = star join of the novel DELTA against the MERGED dims, appended |
| update_daily_stats (:509-586)          | recompute ONLY the dates the delta touched from merged silver, ``merge_upsert`` on played_date (O(touched partitions), the partition-pruned path at scale) |
| log_etl_batch (:588-655)               | append one row to etl_log; its MAX(batch_wm) is the next run's watermark |

Storage: each table is a directory of immutable parquet parts plus a
``_latest`` manifest naming the committed part list; commit = write the new
part (APPEND of the batch delta for the big tables — bronze/silver/fact/log
— so write I/O is O(delta), never a table rewrite; copy-on-write ``v{N}``
snapshot for the small keyed-merge tables), then swing the manifest.
Readers never see a partial write and hold whichever part list they opened
with — the same snapshot-isolation-by-manifest that Delta/Iceberg provide;
everything above the storage layer is unchanged.

Incrementality invariant (tested, and exposed to the driver gate as
``etl_incremental_pipeline``): running the corpus through ANY split into
ts-ordered batches — including re-delivering a batch — produces a warehouse
byte-identical to the single-shot batch build, because every merge is keyed
(event_id / user_id / played_date), every combine is associative
(MIN/SUM/exact decimal), and per-row derivations are stateless.
"""

from __future__ import annotations

import os
import time
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_spotify.etl.dims import date_dim, event_type_dim
from spark_spotify.functions.checkpoint import stable_checkpoint
from spark_spotify.functions.concurrency import overlap
from spark_spotify.etl.fact import fact_from
from spark_spotify.etl.silver import clean_events
from spark_spotify.etl.stats import daily_stats
from spark_spotify.operators.merge import merge_upsert
from spark_spotify.sources.tables import load_table, read_parquet

TABLES = (
    "bronze",
    "silver",
    "dim_user",
    "dim_event_type",
    "fact",
    "agg_daily_stats",
    "etl_log",
)


class CommitConflictError(RuntimeError):
    """An optimistic-concurrency commit lost the race: another writer
    committed the manifest version this writer was about to claim."""


class ConstraintViolationError(RuntimeError):
    """A write (or ADD CONSTRAINT backfill check) found rows for which a
    table CHECK constraint evaluates to FALSE."""


def _require(cond: bool, msg: object) -> None:
    """Gate invariant (survives ``python -O``, unlike ``assert``)."""
    if not cond:
        raise RuntimeError(f"warehouse invariant violated: {msg}")


_MANIFEST_PREFIX = "_latest.v"

# carry-forward sentinel for manifest fields where None is a real value
_CARRY = object()


def _versions(warehouse: str, table: str) -> list[int]:
    """All committed manifest versions for ``table``, ascending."""
    tdir = os.path.join(warehouse, table)
    if not os.path.isdir(tdir):
        return []
    return sorted(
        int(f[len(_MANIFEST_PREFIX):])
        for f in os.listdir(tdir)
        if f.startswith(_MANIFEST_PREFIX)
    )


def _current_version(warehouse: str, table: str) -> int:
    vs = _versions(warehouse, table)
    return vs[-1] if vs else 0


def _read_manifest_file(warehouse: str, table: str, version: int) -> dict:
    import json

    path = os.path.join(warehouse, table, f"{_MANIFEST_PREFIX}{version}")
    with open(path) as fh:
        m = json.load(fh)
    if isinstance(m, list):  # tolerate bare part lists
        m = {"parts": m}
    m.setdefault("renames", {})
    m.setdefault("ts", None)  # pre-timestamp manifests
    m.setdefault("specs", {})  # {part: [hive partition cols]}
    m.setdefault("drops", [])  # physical column names dropped
    m.setdefault("stats", {})  # {part: {col: {lo, hi, nulls, n}}}
    m.setdefault("constraints", {})  # {name: CHECK sql expr (logical cols)}
    m.setdefault("generated", {})  # {logical col: generation sql expr}
    m.setdefault("dv", {})  # {part: [deletion-vector sidecar names]}
    m.setdefault("schema", None)  # table-owned physical schema (JSON)
    m.setdefault("blooms", {})  # {physical col: [bloom sidecar names]}
    m.setdefault("row_base", None)  # {"part/file": base row id} | None
    m.setdefault("row_hwm", 0)  # next unassigned row id
    return m


def _manifest(
    warehouse: str, table: str, version: int | None = None
) -> list[str] | None:
    """Committed part list at ``version`` (default: latest), or None if
    the table has no commits."""
    vs = _versions(warehouse, table)
    if not vs:
        return None
    v = vs[-1] if version is None else version
    return _read_manifest_file(warehouse, table, v)["parts"]


# Delta truncates string file-stats at 32 chars (prefix + increment); we
# simply DROP bounds beyond this cap — a part with an unbounded column is
# never pruned on it, so the cap only costs skipping power, never rows.
_STATS_MAX_STR = 64


def _enc_stat(v):
    """JSON-safe, order-preserving encoding of a footer bound / predicate
    literal.  Numbers pass through; strings pass through under the length
    cap; timestamps become epoch MICROSECONDS and dates epoch DAYS (exact
    integer arithmetic — isoformat strings were rejected because mixed
    fractional-second renderings break lexicographic order at equality).
    Returns None for unencodable values (=> that bound is unknown and the
    part is never pruned on it)."""
    import datetime as _dt

    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, bytes):
        try:
            v = v.decode()
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v if len(v) <= _STATS_MAX_STR else None
    if isinstance(v, _dt.datetime):
        import calendar

        if v.tzinfo is not None:
            # pyarrow returns tz-aware bounds for Spark's UTC-adjusted
            # timestamps; normalize any zone to UTC wall components so
            # aware and naive (session-UTC) values share one encoding
            v = v.astimezone(_dt.timezone.utc)
        return calendar.timegm(v.timetuple()) * 10**6 + v.microsecond
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days
    return None


def _stat_kind(v) -> str | None:
    """Type FAMILY of a bound / predicate literal, recorded alongside the
    encoded stats so pruning never compares across encodings: dates
    encode as epoch-DAYS and datetimes as epoch-MICROS — both plain ints
    — so without the tag a datetime predicate on a DATE column would
    compare micros against days and could prune parts that match
    (breaking the 'pruning only errs toward reading' invariant)."""
    import datetime as _dt

    if isinstance(v, bool):
        return "n"
    if isinstance(v, (int, float)):
        return "n"
    if isinstance(v, (str, bytes)):
        return "s"
    if isinstance(v, _dt.datetime):
        return "t"
    if isinstance(v, _dt.date):
        return "d"
    return None


def _part_stats(warehouse: str, table: str, part: str) -> dict:
    """Per-column {lo, hi, nulls, n} for one part, from the parquet
    FOOTERS alone (pyarrow metadata, no Spark job) — the file statistics
    Delta denormalizes into its commit log so the planner can skip files
    without touching them.  Only top-level primitive leaves are recorded
    (nested paths like ``props.list.element`` are skipped); a column
    whose min/max is unavailable in some row group that still holds
    non-null rows is left UNBOUNDED (recorded with counts only), so
    pruning can only ever err toward reading."""
    import glob as _glob

    import pyarrow.parquet as pq

    acc: dict[str, dict] = {}
    for f in _glob.glob(
        os.path.join(warehouse, table, part, "**", "*.parquet"),
        recursive=True,
    ):
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).path for i in range(len(md.schema))]
        for i, name in enumerate(names):
            if "." in name:  # nested leaf — not a top-level column
                continue
            e = acc.setdefault(
                name,
                {"n": 0, "nulls": 0, "_bounded": True, "_nk": True},
            )
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                st = rgm.column(i).statistics
                e["n"] += rgm.num_rows
                nulls = (
                    st.null_count
                    if st is not None and st.has_null_count
                    else None
                )
                if nulls is None:
                    e["_nk"] = False
                else:
                    e["nulls"] += nulls
                if st is not None and st.has_min_max:
                    lo, hi = _enc_stat(st.min), _enc_stat(st.max)
                    kind = _stat_kind(st.min)
                    if lo is None or hi is None or kind is None:
                        e["_bounded"] = False
                    elif e.get("k", kind) != kind:
                        # mixed type families across row groups (should
                        # be impossible for one parquet column) — bounds
                        # are not comparable, leave unbounded
                        e["_bounded"] = False
                    else:
                        e["k"] = kind
                        e["lo"] = lo if "lo" not in e else min(e["lo"], lo)
                        e["hi"] = hi if "hi" not in e else max(e["hi"], hi)
                elif nulls is None or nulls < rgm.num_rows:
                    # non-null rows with no min/max: bounds unknowable
                    e["_bounded"] = False
    out = {}
    for name, e in acc.items():
        rec = {"n": e["n"]}
        if e.pop("_nk"):
            rec["nulls"] = e["nulls"]
        if e.pop("_bounded") and "lo" in e:
            rec["lo"], rec["hi"], rec["k"] = e["lo"], e["hi"], e["k"]
        out[name] = rec
    return out


def _swing(
    warehouse: str,
    table: str,
    parts: list[str],
    renames: dict[str, str] | None = None,
    expected_version: int | None = None,
    specs: dict[str, list[str]] | None = None,
    drops: list[str] | None = None,
    stats: dict[str, dict] | None = None,
    constraints: dict[str, str] | None = None,
    generated: dict[str, str] | None = None,
    dv: dict[str, list[str]] | None = None,
    schema: object = _CARRY,
    blooms: dict[str, list[str]] | None = None,
    row_base: object = _CARRY,
    row_hwm_min: int = 0,
) -> int:
    """Commit a new manifest version via compare-and-swap.

    The manifest CONTENT is written to a private temp file first, then
    hard-linked to ``_latest.v{N+1}`` — ``link`` fails with EEXIST if the
    name is taken, giving the put-if-absent that Delta's log protocol
    uses, with the content already durable at claim time (an
    ``O_CREAT|O_EXCL`` claim followed by a write would expose an
    empty/partial manifest to concurrent readers between the two steps).
    If two committers race, exactly one links the name and wins; the
    loser raises :class:`CommitConflictError` (retry = re-read the table
    state and re-derive the commit).  ``expected_version`` additionally
    rejects the commit if the table moved since the caller read it.
    Returns the committed version number."""
    import json
    import uuid

    tdir = os.path.join(warehouse, table)
    os.makedirs(tdir, exist_ok=True)
    cur = _current_version(warehouse, table)
    if expected_version is not None and cur != expected_version:
        raise CommitConflictError(
            f"{table}: expected version {expected_version}, found {cur}"
        )
    # ONE read of the current manifest serves every carried-forward
    # default (manifests now carry per-part stats, so re-parsing per
    # field would be repeated O(manifest) JSON work on every commit)
    cur_m = _read_manifest_file(warehouse, table, cur) if cur else None
    if renames is None:
        renames = cur_m["renames"] if cur_m else {}
    if drops is None:
        drops = cur_m["drops"] if cur_m else []
    if specs is None:
        specs = cur_m["specs"] if cur_m else {}
    if constraints is None:
        constraints = cur_m["constraints"] if cur_m else {}
    if generated is None:
        generated = cur_m["generated"] if cur_m else {}
    if dv is None:
        dv = cur_m["dv"] if cur_m else {}
    if schema is _CARRY:
        # None is a VALID value here (no table-owned schema) — e.g. a
        # RESTORE to a pre-evolution version must clear it — so the
        # carry-forward default is a sentinel, not None
        schema = cur_m["schema"] if cur_m else None
    if blooms is None:
        # bloom sidecars are never filtered against the part list: a
        # sidecar covering since-removed parts is harmless (pruning
        # consults only live parts) and may still cover live ones
        blooms = cur_m["blooms"] if cur_m else {}
    if row_base is _CARRY:
        row_base = cur_m["row_base"] if cur_m else None
    # the floor lets callers that MINTED ids themselves (MERGE inserts,
    # clones) advance the high-water mark past what they used
    row_hwm = max(cur_m["row_hwm"] if cur_m else 0, row_hwm_min)
    if row_base is not None:
        # ROW TRACKING (Delta row ids): every file of every part gets a
        # BASE row id at the commit that introduces it; a row's stable
        # id is base + _metadata.row_index.  Files that carry a
        # PHYSICAL _row_id column (COW rewrites materialize ids to
        # preserve them) get no base — the column is authoritative.
        # O(new files) footer reads, same cost class as the stats.
        _require(
            not specs,
            f"{table}: row tracking over partition specs unsupported",
        )
        import pyarrow.parquet as _pq

        live = set(parts)
        row_base = {
            k: v
            for k, v in row_base.items()
            if k.split("/", 1)[0] in live
        }
        tdir_rb = os.path.join(warehouse, table)
        for p in parts:
            for fname in sorted(os.listdir(os.path.join(tdir_rb, p))):
                if not fname.endswith(".parquet"):
                    continue
                key = f"{p}/{fname}"
                if key in row_base:
                    continue
                pf = _pq.ParquetFile(os.path.join(tdir_rb, p, fname))
                if "_row_id" in set(pf.schema_arrow.names):
                    continue  # materialized file: ids live in the data
                row_base[key] = row_hwm
                row_hwm += pf.metadata.num_rows
    # a spec entry for a part no longer in the list is dead metadata
    specs = {p: s for p, s in specs.items() if p in parts}
    # likewise a deletion vector for a dropped part: a rewrite of the
    # part MATERIALIZED its deletions, so the sidecar reference dies
    # with the part entry (the sidecar bytes stay for older manifests)
    dv = {p: list(names) for p, names in dv.items() if p in parts and names}
    # file stats ride the manifest (the Delta-log data-skipping index):
    # carried forward for surviving parts, footer-read ONCE for new parts
    # — O(new parts) cheap metadata I/O per commit, never a data scan
    if stats is None:
        stats = cur_m["stats"] if cur_m else {}
    stats = {p: s for p, s in stats.items() if p in parts}
    for p in parts:
        if p not in stats:
            stats[p] = _part_stats(warehouse, table, p)
    nxt = cur + 1
    path = os.path.join(tdir, f"{_MANIFEST_PREFIX}{nxt}")
    tmp = os.path.join(tdir, f"_tmp.{uuid.uuid4().hex[:12]}")
    with open(tmp, "w") as fh:
        # commit wall-clock enables AS OF TIMESTAMP reads; readers
        # tolerate its absence in pre-timestamp manifests
        json.dump(
            {
                "parts": parts,
                "renames": renames,
                "ts": time.time(),
                "specs": specs,
                "drops": drops,
                "stats": stats,
                "constraints": constraints,
                "generated": generated,
                "dv": dv,
                "schema": schema,
                "blooms": blooms,
                "row_base": row_base,
                "row_hwm": row_hwm,
            },
            fh,
        )
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflictError(
            f"{table}: version {nxt} was committed concurrently"
        ) from None
    finally:
        os.unlink(tmp)
    return nxt


def swing_rebase(
    warehouse: str,
    table: str,
    base_version: int,
    added: list[str],
    removed: set[str] | None = None,
    max_retries: int = 5,
    dv_add: dict[str, list[str]] | None = None,
    schema: str | None = None,
    row_hwm_min: int = 0,
    blooms_add: dict[str, list[str]] | None = None,
) -> int:
    """Optimistic-concurrency commit with AUTOMATIC REBASE — the Delta
    conflict-resolution protocol on top of :func:`_swing`'s CAS.  The
    commit is expressed as a DELTA against the snapshot the writer read
    (``base_version``): parts it adds and parts it removes (a COW
    rewrite removes its inputs and adds their replacement).  If other
    writers committed since ``base_version``, the delta is REPLAYED onto
    the current manifest instead of erroring, provided the two commits
    are disjoint:

    - append ∥ append — always rebases (both part lists land);
    - append ∥ delete-of-other-parts — rebases;
    - both sides REMOVED the same part (two writers rewriting the same
      rows), or both CLAIM the same new part name — true overlap, raises
      :class:`CommitConflictError` with no side effects.

    Isolation level is Delta's default **WriteSerializable**: a rebased
    delete does NOT re-check its predicate against parts appended by the
    winner — concurrent appends win, exactly as ``spark.databricks.
    delta.isolationLevel=WriteSerializable`` behaves.  Full Serializable
    would require re-running discovery, which the CALLER can do by
    catching the conflict and re-deriving the commit.

    ``dv_add`` extends the delta with ROW-level deletes: deletion-vector
    sidecars to attach per part (``{part: [dv names]}``, merge-on-read
    DELETE commits).  DV commits rebase at row granularity — two writers
    deleting rows of the SAME part both land (the read path applies the
    UNION of the part's vectors, consistent with either serial order
    because deletion is monotone), which part-level COW can never give.
    True conflicts remain: the winner REWROTE a part we vectorize (our
    row positions are dead), we rewrite a part the winner vectorized
    (our COW output would resurrect its deletions), or a DV sidecar
    name collides.

    Each retry is O(manifest) metadata only — no Spark job, no part
    rewrite; the loser of a CAS race re-reads and replays until it wins
    or finds a true overlap."""
    added = list(added)
    removed = set(removed or ())
    dv_add = {p: list(ns) for p, ns in (dv_add or {}).items() if ns}
    base_m = (
        _read_manifest_file(warehouse, table, base_version)
        if base_version
        else None
    )
    base_parts = set(base_m["parts"]) if base_m else set()
    base_dv = base_m["dv"] if base_m else {}
    base_hwm = base_m["row_hwm"] if base_m else 0
    base_schema = base_m["schema"] if base_m else None
    _require(
        removed <= base_parts,
        f"rebase removes parts not in base v{base_version}: "
        f"{sorted(removed - base_parts)}",
    )
    _require(
        set(dv_add) <= base_parts - removed,
        f"dv_add targets parts not live in base v{base_version}: "
        f"{sorted(set(dv_add) - (base_parts - removed))}",
    )
    for _ in range(max_retries):
        cur = _current_version(warehouse, table)
        cur_m = _read_manifest_file(warehouse, table, cur) if cur else None
        cur_parts = cur_m["parts"] if cur_m else []
        cur_dv = cur_m["dv"] if cur_m else {}
        if cur != base_version:
            winner_removed = base_parts - set(cur_parts)
            winner_added = set(cur_parts) - base_parts
            overlap = removed & winner_removed
            collide = set(added) & winner_added
            # a part we vectorize that the winner rewrote: our row
            # positions index files that no longer exist in the snapshot
            dv_dead = set(dv_add) & winner_removed
            # a part we REWRITE that the winner vectorized since base:
            # our COW output was computed without those row deletes and
            # would resurrect them
            dv_stomped = {
                p
                for p in removed
                if set(cur_dv.get(p, ())) - set(base_dv.get(p, ()))
            }
            # two DV commits reusing one sidecar name
            dv_names = {n for ns in dv_add.values() for n in ns}
            dv_collide = dv_names & {
                n for ns in cur_dv.values() for n in ns
            }
            if overlap or collide or dv_dead or dv_stomped or dv_collide:
                raise CommitConflictError(
                    f"{table}: concurrent commit overlaps "
                    f"(both rewrote {sorted(overlap | dv_stomped)}, "
                    f"both added {sorted(collide)}, "
                    f"dv on rewritten parts {sorted(dv_dead)}, "
                    f"dv name collisions {sorted(dv_collide)})"
                )
            # row ids MATERIALIZED into this commit's part bytes were
            # minted from the base snapshot's watermark; if the winner
            # moved it, our pre-minted range may overlap ids the winner
            # already wrote — row_hwm_min can only advance the mark, it
            # cannot un-mint ids baked into parquet.  The caller must
            # re-derive the commit against the fresh watermark.
            if row_hwm_min > 0 and cur_m["row_hwm"] != base_hwm:
                raise CommitConflictError(
                    f"{table}: row ids minted against a stale watermark "
                    f"(base row_hwm {base_hwm}, now {cur_m['row_hwm']})"
                )
            # schema is a metadata conflict, not last-writer-wins: a
            # schema-evolving commit derived its schema from the base —
            # overwriting a winner's concurrent evolution (another
            # evolving MERGE, a widen_column) would drop the winner's
            # column from the table-owned schema while its parts still
            # carry the data
            if schema is not None and cur_m["schema"] != base_schema:
                raise CommitConflictError(
                    f"{table}: concurrent schema change since "
                    f"v{base_version} conflicts with this commit's "
                    f"schema evolution"
                )
        new_list = [p for p in cur_parts if p not in removed] + added
        new_dv = None
        if dv_add:
            new_dv = {p: list(ns) for p, ns in cur_dv.items()}
            for p, ns in dv_add.items():
                new_dv[p] = new_dv.get(p, []) + ns
        new_blooms = None
        if blooms_add:
            # coverage additions are monotone like dv: a sidecar names
            # the parts it covers internally, so unioning mappings is
            # correct under any interleaving (extra names that cover
            # removed parts are harmless dead metadata)
            cur_blooms = cur_m["blooms"] if cur_m else {}
            new_blooms = {c: list(ns) for c, ns in cur_blooms.items()}
            for c, ns in blooms_add.items():
                new_blooms[c] = new_blooms.get(c, []) + ns
        try:
            return _swing(
                warehouse,
                table,
                new_list,
                expected_version=cur,
                dv=new_dv,
                schema=_CARRY if schema is None else schema,
                row_hwm_min=row_hwm_min,
                blooms=new_blooms,
            )
        except CommitConflictError:
            continue  # lost the CAS itself: re-read and replay
    raise CommitConflictError(
        f"{table}: rebase lost {max_retries} consecutive commit races"
    )


_TXN_DIR = "_txn"


def multi_commit(
    warehouse: str,
    plan: dict[str, tuple[list[str], set[str]]],
    tag: str,
) -> None:
    """ALL-OR-NOTHING commit across multiple tables — the cross-table
    transaction a medallion batch needs (fact + dims + gold must move
    together; a crash after some swings would leave the warehouse torn).
    Two-phase: (1) a durable INTENT record (O_EXCL-linked under
    ``_txn/``, same put-if-absent as the manifest CAS) captures every
    table's base version and part delta — the staged part DIRECTORIES
    must already be fully written, exactly like WAP; (2) the per-table
    swings apply in sorted order through :func:`swing_rebase`; (3) the
    intent is retired.  A crash anywhere after (1) is repaired by
    :func:`recover_transactions`, which ROLLS the intent FORWARD —
    already-applied tables are detected idempotently, the rest commit —
    so the transaction is atomic under crash-recovery.  (Isolation is
    per-table snapshot, as in Delta: a reader between two swings can
    observe table A's new version before table B's — the recovery
    guarantee is about DURABLE states, which is the contract that
    matters for pipeline reruns.)  ``plan`` maps table ->
    (parts_added, parts_removed)."""
    import json
    import uuid

    # creation sequence rides the record ("_"-prefixed keys are metadata,
    # not tables): recovery replays intents in CREATION order — two
    # in-flight intents touching the same table must roll forward in the
    # order they were cut, or a later intent whose base predates an
    # earlier one's removal hits a spurious overlap conflict
    tx = {"_ts": time.time()}
    for table in sorted(plan):
        added, removed = plan[table]
        tx[table] = {
            "base": _current_version(warehouse, table),
            "added": list(added),
            "removed": sorted(removed),
        }
    tdir = os.path.join(warehouse, _TXN_DIR)
    os.makedirs(tdir, exist_ok=True)
    path = os.path.join(tdir, f"{tag}.json")
    tmp = os.path.join(tdir, f"_tmp.{uuid.uuid4().hex[:12]}")
    with open(tmp, "w") as fh:
        json.dump(tx, fh)
    try:
        os.link(tmp, path)  # intent is durable BEFORE any table moves
    except FileExistsError:
        raise CommitConflictError(
            f"transaction tag {tag!r} already exists"
        ) from None
    finally:
        os.unlink(tmp)
    _txn_apply(warehouse, path, tx)


def _txn_apply(warehouse: str, intent_path: str, tx: dict) -> None:
    for table in sorted(tx):
        if table.startswith("_"):
            continue  # record metadata (creation ts), not a table
        e = tx[table]
        cur = set(_manifest(warehouse, table) or [])
        if set(e["added"]) <= cur and not (set(e["removed"]) & cur):
            continue  # this table's swing already landed (roll-forward)
        swing_rebase(
            warehouse, table, e["base"], e["added"], set(e["removed"])
        )
    os.unlink(intent_path)


def recover_transactions(warehouse: str) -> list[str]:
    """Roll every incomplete multi-table transaction FORWARD (the
    intent is durable, so the decision to commit was made; recovery
    finishes it).  Run at session/pipeline start, like Delta log
    recovery.  An intent that can no longer apply (a concurrent commit
    rewrote one of its parts — a TRUE overlap swing_rebase must refuse)
    is QUARANTINED as ``<tag>.json.conflict`` so it stops blocking
    recovery of later intents and keeps its evidence for the operator,
    and the conflict is raised AFTER every other intent has been
    recovered — one poisoned transaction must never brick the
    warehouse's recovery loop forever.  Returns the recovered tags."""
    import glob as _glob
    import json

    done = []
    conflicts = []
    pending = []
    for path in _glob.glob(os.path.join(warehouse, _TXN_DIR, "*.json")):
        with open(path) as fh:
            tx = json.load(fh)
        # replay in intent-CREATION order, not lexicographic tag order:
        # a later-created intent whose base predates an earlier one's
        # removal would hit a spurious overlap conflict if recovered
        # first.  Creation ts is embedded in the record; legacy intents
        # fall back to file mtime; ties break on the tag name.
        seq = tx.get("_ts", os.path.getmtime(path))
        pending.append((seq, os.path.basename(path), path, tx))
    for _seq, _name, path, tx in sorted(pending, key=lambda t: t[:2]):
        tag = os.path.splitext(os.path.basename(path))[0]
        try:
            _txn_apply(warehouse, path, tx)
        except CommitConflictError as e:
            os.rename(path, path + ".conflict")
            conflicts.append(f"{tag}: {e}")
            continue
        done.append(tag)
    if conflicts:
        raise CommitConflictError(
            "unrecoverable transaction(s) quarantined: "
            + "; ".join(conflicts)
        )
    return done


def _read_parts(
    spark: SparkSession,
    warehouse: str,
    table: str,
    parts: list[str],
    specs: dict[str, list[str]] | None = None,
    schema: str | None = None,
) -> DataFrame | None:
    """Spec-aware snapshot scan: unpartitioned parts go through ONE
    multi-path parquet read; each hive-partitioned part (partition spec
    evolution) is read under its own root so partition discovery
    restores its partition columns, then the branches union by name.
    Note the branch count is per hive-partitioned PART, not per spec
    generation — Spark's partition discovery rejects multiple roots
    (CONFLICTING_DIRECTORY_STRUCTURES), so spec'd parts cannot share a
    scan.  The scale posture is therefore: keep the spec'd part count
    low by COMPACTING evolved commits (compact_table rewrites any mix
    into one plain part), exactly as Iceberg compaction folds old-spec
    files forward."""
    branches = _part_branches(spark, warehouse, table, parts, specs, schema)
    out = None
    for df in branches:
        out = df if out is None else out.unionByName(df)
    return out


def _part_branches(
    spark: SparkSession,
    warehouse: str,
    table: str,
    parts: list[str],
    specs: dict[str, list[str]] | None = None,
    schema: str | None = None,
) -> list[DataFrame]:
    """The per-spec scan branches behind :func:`_read_parts` — exposed so
    per-branch work (e.g. ``input_file_name()`` discovery, which is
    single-source-only and must not sit above the union) can map each
    branch before combining.

    Every branch is planned from a known schema, from one of two
    sources:

    - ``schema``, the manifest's TABLE-OWNED physical schema (JSON, set
      by schema-evolving commits).  When present the scan is planned
      from it — parquet fills columns a file lacks with NULL — which is
      how Delta/Iceberg read mixed-schema part sets: zero footer-merging
      I/O at plan time (``mergeSchema`` would read every footer of a
      100 TB table), and the schema is versioned with the snapshot.
    - otherwise :func:`read_parquet`, which takes the schema Spark
      itself would infer from the parts' footers (the Spark schema JSON
      every part written here carries) without an inference job; a
      hive-partitioned part falls through to Spark's own partition
      discovery there."""
    if not parts:
        return []
    specs = specs or {}
    tdir = os.path.join(warehouse, table)
    plain = [p for p in parts if p not in specs]
    if schema is not None:
        import json as _json

        from pyspark.sql.types import StructType

        open_ = spark.read.schema(
            StructType.fromJson(_json.loads(schema))
        ).parquet
    else:
        open_ = partial(read_parquet, spark)
    branches = []
    if plain:
        branches.append(open_(*[os.path.join(tdir, p) for p in plain]))
    branches.extend(
        open_(os.path.join(tdir, p)) for p in parts if p in specs
    )
    return branches


# Reserved scan-side names for the deletion-vector anti-join keys —
# rejected as user columns by the MOR delete path.
_DV_FILE = "_dv_f"
_DV_IDX = "_dv_i"


def _rel_file_expr(tdir: str) -> F.Column:
    """Scan-side file identity: the open file's path RELATIVE to the
    table dir (``part/.../file.parquet``), from the ``_metadata``
    pseudo-column — matching byte-for-byte what the MOR delete writes
    into its sidecar, so the anti-join key is exact on both flat and
    hive-partitioned parts."""
    _require("'" not in tdir, f"table dir {tdir!r} contains a quote")
    return F.expr(
        f"substring(_metadata.file_path, "
        f"locate('{tdir}/', _metadata.file_path) + {len(tdir) + 1})"
    )


def _read_parts_live(
    spark: SparkSession,
    warehouse: str,
    table: str,
    parts: list[str],
    specs: dict[str, list[str]] | None = None,
    dv: dict[str, list[str]] | None = None,
    schema: str | None = None,
    keep_pos: bool = False,
) -> DataFrame | None:
    """DV-aware snapshot scan — :func:`_read_parts` plus the
    merge-on-read half of the Delta deletion-vector protocol: when any
    scanned part carries deletion vectors, every row is keyed by
    (relative file path, ``_metadata.row_index``) and anti-joined
    against the UNION of the referenced sidecars.  ``row_index`` is the
    physical position Spark maintains through row-group skipping (the
    same identity Delta's DV reader uses), so the filter is exact under
    predicate pushdown.  Sidecars are O(deleted rows) by construction
    and BROADCAST — the anti-join is a build-side hash lookup per row,
    no shuffle, and tables with no vectors take the plain scan with
    zero overhead."""
    live = {
        p: ns for p, ns in (dv or {}).items() if p in set(parts) and ns
    }
    tdir = os.path.join(warehouse, table)
    if not live and not keep_pos:
        return _read_parts(spark, warehouse, table, parts, specs, schema)
    if not live:
        # keep_pos without vectors: just attach the position key
        rel0 = _rel_file_expr(tdir)
        out0 = None
        for br in _part_branches(
            spark, warehouse, table, parts, specs, schema
        ):
            b = br.withColumn(_DV_FILE, rel0).withColumn(
                _DV_IDX, F.col("_metadata.row_index")
            )
            out0 = b if out0 is None else out0.unionByName(b)
        return out0
    names = sorted({n for ns in live.values() for n in ns})
    dvdf = read_parquet(spark, *[os.path.join(tdir, n) for n in names])
    rel = _rel_file_expr(tdir)
    out = None
    for br in _part_branches(
        spark, warehouse, table, parts, specs, schema
    ):
        _require(
            _DV_FILE not in br.columns and _DV_IDX not in br.columns,
            f"{_DV_FILE}/{_DV_IDX} are reserved by deletion vectors",
        )
        b = br.withColumn(_DV_FILE, rel).withColumn(
            _DV_IDX, F.col("_metadata.row_index")
        )
        out = b if out is None else out.unionByName(b)
    cols = [c for c in out.columns if c not in (_DV_FILE, _DV_IDX)]
    out = out.join(
        F.broadcast(
            dvdf.withColumnRenamed("f", _DV_FILE).withColumnRenamed(
                "i", _DV_IDX
            )
        ),
        [_DV_FILE, _DV_IDX],
        "left_anti",
    )
    return out if keep_pos else out.select(*cols)


def _scan_with_row_ids(
    spark: SparkSession,
    warehouse: str,
    table: str,
    parts: list[str],
    m: dict,
    keep_pos: bool = False,
) -> DataFrame:
    """Snapshot scan of ``parts`` carrying the stable ``_row_id`` —
    the Delta row-tracking read: files committed as appends get VIRTUAL
    ids (manifest base + ``_metadata.row_index``, zero storage cost);
    files written by COW rewrites carry a PHYSICAL ``_row_id`` column
    (materialized to survive the rewrite).  The two groups scan as
    separate branches (their physical schemas differ by the id column)
    and union by name — deterministic regardless of parquet schema
    resolution order.  ``keep_pos`` additionally surfaces the physical
    position key (``_dv_f``/``_dv_i``) — the identity a merge-on-read
    writer needs to vectorize the rows it updates."""
    rb = m["row_base"] or {}
    bset = {k.split("/", 1)[0] for k in rb}
    base_parts = [p for p in parts if p in bset]
    mat_parts = [p for p in parts if p not in bset]
    out = None
    if base_parts:
        b = _read_parts_live(
            spark,
            warehouse,
            table,
            base_parts,
            m["specs"],
            m["dv"],
            m["schema"],
            keep_pos=True,
        )
        bmap = F.create_map(
            *[
                x
                for k, v in sorted(rb.items())
                for x in (F.lit(k), F.lit(v))
            ]
        )
        b = b.withColumn(
            "_row_id",
            F.element_at(bmap, F.col(_DV_FILE)) + F.col(_DV_IDX),
        )
        if not keep_pos:
            b = b.drop(_DV_FILE, _DV_IDX)
        out = b
    if mat_parts:
        sch = m["schema"]
        if sch is not None:
            # the table-owned schema never lists the hidden id column;
            # extend it for the materialized branch so the scan sees it
            import json as _json

            from pyspark.sql.types import (
                LongType,
                StructField,
                StructType,
            )

            st = StructType.fromJson(_json.loads(sch))
            sch = StructType(
                list(st.fields) + [StructField("_row_id", LongType())]
            ).json()
        mdf = _read_parts_live(
            spark,
            warehouse,
            table,
            mat_parts,
            m["specs"],
            m["dv"],
            sch,
            keep_pos=keep_pos,
        )
        out = mdf if out is None else out.unionByName(mdf)
    return out


def enable_row_tracking(warehouse: str, table: str) -> int:
    """Turn on ROW TRACKING (Delta row ids / row lineage): from this
    commit every row has a STABLE 64-bit id that survives COW rewrites,
    readable via :func:`read_table_with_row_ids` — the identity a
    downstream incremental consumer can key state on across OPTIMIZE /
    DELETE / MERGE churn.  Enabling is one metadata commit: existing
    files get base ids assigned from their footers (O(files) metadata,
    no data rewrite); future appends get bases at their own commit;
    rewrites materialize ids physically.  Idempotent."""
    cur = _current_version(warehouse, table)
    _require(cur > 0, f"{table}: enable row tracking before any commit")
    m = _read_manifest_file(warehouse, table, cur)
    if m["row_base"] is not None:
        return cur
    _require(
        not m["specs"],
        f"{table}: row tracking over partition specs unsupported",
    )
    return _swing(warehouse, table, m["parts"], row_base={})


def read_table_with_row_ids(
    spark: SparkSession,
    warehouse: str,
    table: str,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read surfacing the stable ``row_id`` column (row
    tracking must be enabled).  Same column mapping / drop semantics as
    :func:`read_table`."""
    vs = _versions(warehouse, table)
    _require(bool(vs), f"{table}: read on an uncommitted table")
    m = _read_manifest_file(
        warehouse, table, vs[-1] if version is None else version
    )
    _require(
        m["row_base"] is not None,
        f"{table}: row tracking not enabled at this version",
    )
    df = _scan_with_row_ids(spark, warehouse, table, m["parts"], m)
    if m["drops"]:
        df = df.drop(*m["drops"])
    for phys, logical in m["renames"].items():
        df = df.withColumnRenamed(phys, logical)
    return df.withColumnRenamed("_row_id", "row_id")


def version_as_of(warehouse: str, table: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution: the latest committed version whose
    commit wall-clock is <= ``ts`` (Delta/Iceberg timestamp travel).
    O(versions) metadata reads, no Spark job.  Raises if no commit is
    that old (reading before the table existed).  Pre-timestamp
    manifests (no ``ts`` field) INHERIT the previous version's effective
    clock (-inf at the head of the log) and qualify only STRICTLY beyond
    it — a legacy commit is known only to be at-or-after its
    predecessor, so resolution stays monotonic and an early timestamp
    can never resolve to a late un-timestamped version."""
    best = None
    eff = float("-inf")
    for v in _versions(warehouse, table):
        mts = _read_manifest_file(warehouse, table, v)["ts"]
        if mts is not None:
            eff = mts
            if eff <= ts:
                best = v
        elif eff < ts:
            best = v
    _require(best is not None, f"{table}: no commit at or before {ts}")
    return best


def read_table(
    spark: SparkSession,
    warehouse: str,
    table: str,
    version: int | None = None,
    as_of_ts: float | None = None,
) -> DataFrame | None:
    """Snapshot read at ``version`` (default: latest), or at the last
    version committed at or before wall-clock ``as_of_ts``.  Applies the
    manifest's column mapping (physical -> logical names), so a rename
    commit changes what readers see without touching any part bytes."""
    vs = _versions(warehouse, table)
    if not vs:
        return None
    if as_of_ts is not None:
        _require(version is None, "pass version OR as_of_ts, not both")
        version = version_as_of(warehouse, table, as_of_ts)
    m = _read_manifest_file(
        warehouse, table, vs[-1] if version is None else version
    )
    if not m["parts"]:
        return None
    if m["row_base"] is not None:
        # tracked tables may mix materialized (_row_id-carrying) and
        # plain files; the id-aware scan branches them deterministically
        df = _scan_with_row_ids(
            spark, warehouse, table, m["parts"], m
        ).drop("_row_id")
    else:
        df = _read_parts_live(
            spark, warehouse, table, m["parts"], m["specs"], m["dv"],
            m["schema"],
        )
    if m["drops"]:
        # drops are PHYSICAL names, applied before the rename mapping;
        # the part bytes still carry the column (Delta column-mapping
        # drop), readers just never project it
        df = df.drop(*m["drops"])
    for phys, logical in m["renames"].items():
        df = df.withColumnRenamed(phys, logical)
    return df


_PRUNE_OPS = ("=", "<", "<=", ">", ">=", "in")


def prune_parts(
    warehouse: str,
    table: str,
    predicates: list[tuple],
    version: int | None = None,
) -> tuple[list[str], dict]:
    """Manifest-stats file skipping — the scan-planning half of the Delta
    log's data-skipping story: given conjunctive simple predicates
    ``[(logical_col, op, literal), ...]`` with ops in {=, <, <=, >, >=},
    return the parts of the snapshot that MIGHT contain matching rows,
    plus the manifest.  Pure metadata (one manifest read, zero footer or
    data I/O — the stats were denormalized into the manifest at commit
    time by :func:`_swing`), so planning stays O(parts-in-manifest) at
    100 TB instead of O(files) footer fetches.

    A part is skipped only when its stats PROVE emptiness under a
    predicate: empty part; all-null column (a comparison never matches
    NULL under three-valued logic); or the literal falls outside the
    [lo, hi] bound.  Unknown stats, unencodable literals, and type
    mismatches all KEEP the part — pruning can only err toward reading.
    Predicates name LOGICAL columns; the manifest's column mapping
    translates to the physical names the footers carry."""
    vs = _versions(warehouse, table)
    _require(bool(vs), f"{table}: prune on an empty table")
    m = _read_manifest_file(
        warehouse, table, vs[-1] if version is None else version
    )
    to_phys = {logical: phys for phys, logical in m["renames"].items()}
    resolved = []
    bloom_reqs = []
    for col, op, val in predicates:
        _require(op in _PRUNE_OPS, f"unsupported prune op {op!r}")
        phys = to_phys.get(col, col)
        _require(
            phys not in m["drops"], f"predicate on dropped column {col!r}"
        )
        if op == "in":
            # IN-list: a part is prunable only when EVERY element is
            # provably absent (stats: outside [lo, hi]; bloom: covered
            # part lacking some probe position of every element)
            elems = list(val)
            resolved.append(
                (
                    phys,
                    "in",
                    [(_enc_stat(e), _stat_kind(e)) for e in elems],
                    None,
                )
            )
            val = elems  # the bloom consult below handles the list
        else:
            resolved.append((phys, op, _enc_stat(val), _stat_kind(val)))
        if (
            op in ("=", "in")
            and phys in m["blooms"]
            and all(
                isinstance(v, (str, int)) and not isinstance(v, bool)
                for v in (val if op == "in" else [val])
            )
            and (op != "in" or val)
        ):
            # bloom consult: one O(positions) sidecar read per indexed
            # equality predicate — the step beyond min/max for point
            # lookups on high-cardinality columns (Delta bloom index).
            # Restricted to str/int literals, whose str() round-trips
            # Spark's cast-to-string byte-identically; anything else
            # conservatively skips the bloom (keeps the part).
            bloom_reqs.append(
                _bloom_predicate(
                    warehouse,
                    table,
                    m,
                    phys,
                    val if op == "in" else [val],
                )
            )

    def might_match(part: str) -> bool:
        for covered, present in bloom_reqs:
            if part in covered and part not in present:
                return False  # covered part lacks a required position
        pstats = m["stats"].get(part)
        if not pstats:
            return True  # no stats recorded — cannot prove anything
        for phys, op, v, vk in resolved:
            e = pstats.get(phys)
            if e is None:
                continue
            if e["n"] == 0 or e.get("nulls") == e["n"]:
                return False  # no non-null values: comparison is never true
            if v is None or "lo" not in e:
                continue
            lo, hi = e["lo"], e["hi"]
            if op == "in":
                # prunable only when EVERY element is provably outside
                # the part's bounds (unknown/cross-family elements keep)
                if v and all(
                    enc is not None
                    and ek is not None
                    and e.get("k") == ek
                    and (enc < lo or enc > hi)
                    for enc, ek in v
                ):
                    return False
                continue
            # compare ONLY within one type family: dates encode as
            # epoch-days and datetimes as epoch-micros (both ints), so a
            # raw numeric comparison across families would mis-prune.
            # Entries written before the kind tag existed carry no "k"
            # and are never compared (kept) — conservative by design.
            if vk is None or e.get("k") != vk:
                continue
            if (
                (op == "=" and (v < lo or v > hi))
                or (op == "<" and lo >= v)
                or (op == "<=" and lo > v)
                or (op == ">" and hi <= v)
                or (op == ">=" and hi < v)
            ):
                return False
        return True

    return [p for p in m["parts"] if might_match(p)], m


# Bloom index geometry: 2^21 positions, 4 probes per value — sized for
# ~10 bits per distinct value at the largest tested part (~16K distinct
# values/part at sf0.1 → ~3% fill, false-KEEP ~1e-6 per part per
# value).  False DROPS are impossible (a part's bloom contains every
# value it holds); a false KEEP only costs a scan.  At 100 TB the
# sidecar would store a packed bitmap (m/8 bytes per part) instead of
# distinct position rows; the probe math is identical.
BLOOM_BITS = 1 << 21
BLOOM_K = 4

# Sidecar marker rows (p="", pos=marker) recording the indexed column's
# type family — written at build, consulted before trusting coverage.
_BLOOM_KIND_S = -2  # string column
_BLOOM_KIND_I = -3  # integral column


def _bloom_positions(s: str) -> list[int]:
    """The k probe positions of a value — 8-hex-char slices of md5,
    reduced mod the bit space.  Mirrored EXACTLY by the Spark-side
    expression in :func:`add_bloom_index` (md5 of the cast-to-string
    value), so build and consult agree byte-for-byte."""
    import hashlib

    h = hashlib.md5(s.encode()).hexdigest()
    return [
        int(h[8 * i : 8 * i + 8], 16) % BLOOM_BITS for i in range(BLOOM_K)
    ]


def _bloom_predicate(
    warehouse: str, table: str, m: dict, phys: str, vals: list
) -> tuple[set, set]:
    """Resolve one indexed equality / IN-list predicate against the
    column's bloom sidecars: returns (covered parts, parts holding ALL
    probe positions of AT LEAST ONE value).  A covered part outside the
    present set provably holds no matching row; uncovered parts
    (appended after the index build) are never bloom-pruned.  One
    positions-filtered sidecar read for the whole value list — O(k x
    values) row-group data, no Spark job.

    Kind guard: the build hashed Spark's cast-to-string of the COLUMN
    and the consult hashes Python ``str(literal)`` — the two encodings
    agree only when the literal's type family matches the indexed
    column's (string vs string, int vs integral).  A sidecar whose
    recorded kind (the ``_BLOOM_KIND_*`` marker) does not match every
    probed literal contributes NO coverage — e.g. ``int_col = '0100'``
    would probe '0100' while the build hashed '100', and trusting the
    miss would be a false DROP of rows the cast-equality matches."""
    import pyarrow.parquet as pq

    tdir = os.path.join(warehouse, table)
    per_val = [_bloom_positions(str(v)) for v in vals]
    kinds = {"s" if isinstance(v, str) else "i" for v in vals}
    wanted = sorted({p for ps in per_val for p in ps})
    covered: set = set()
    hits: dict[str, set] = {}
    for name in m["blooms"].get(phys, ()):
        t = pq.read_table(
            os.path.join(tdir, name),
            filters=[
                ("pos", "in", wanted + [-1, _BLOOM_KIND_S, _BLOOM_KIND_I])
            ],
        )
        rows = list(
            zip(t.column("p").to_pylist(), t.column("pos").to_pylist())
        )
        kind_marks = {
            pos for p, pos in rows if p == "" and pos in (
                _BLOOM_KIND_S, _BLOOM_KIND_I
            )
        }
        kind = (
            "s"
            if _BLOOM_KIND_S in kind_marks
            else "i" if _BLOOM_KIND_I in kind_marks else None
        )
        if kind is not None and kinds != {kind}:
            continue  # literal family ≠ column family: no coverage
        for p, pos in rows:
            if p == "" and pos in (_BLOOM_KIND_S, _BLOOM_KIND_I):
                continue
            if pos == -1:
                covered.add(p)
            else:
                hits.setdefault(p, set()).add(pos)
    present = {
        p
        for p, got in hits.items()
        if any(set(ps) <= got for ps in per_val)
    }
    return covered, present


def add_bloom_index(
    spark: SparkSession, warehouse: str, table: str, col: str, tag: str
) -> int:
    """Build a BLOOM FILTER INDEX over ``col`` for every live part not
    already covered (Delta ``CREATE BLOOMFILTER INDEX``): ONE Spark job
    scans the uncovered parts, hashes each value to its {BLOOM_K} probe
    positions, and writes the DISTINCT (part, position) set plus a
    coverage marker per part as a parquet sidecar referenced from the
    manifest.  ``prune_parts`` then consults it for equality predicates
    — the point-lookup skipping min/max stats cannot give on
    high-cardinality/hash-like columns, where every part spans the full
    value range.  Sidecar size is bounded by k x distinct-values bits
    worth of positions per part; parts appended later are simply
    uncovered (never bloom-pruned) until the next build.  ``col`` is
    the PHYSICAL column name.  Returns the committed version (or the
    current one when every part is already covered)."""
    import pyarrow.parquet as pq

    cur = _current_version(warehouse, table)
    _require(cur > 0, f"{table}: bloom index on an uncommitted table")
    m = _read_manifest_file(warehouse, table, cur)
    tdir = os.path.join(warehouse, table)
    name = f"bl{tag}"
    _require(
        name not in m["parts"]
        and not os.path.exists(os.path.join(tdir, name)),
        f"bloom tag {tag!r} collides with {name}",
    )
    todo = [
        p
        for p in m["parts"]
        if p not in _bloom_covered(warehouse, table, m, col)
    ]
    if not todo:
        return cur
    _write_bloom_sidecar(spark, warehouse, table, m, col, todo, name)
    return _swing(
        warehouse,
        table,
        m["parts"],
        blooms={
            **m["blooms"],
            col: list(m["blooms"].get(col, [])) + [name],
        },
    )


def _bloom_covered(warehouse: str, table: str, m: dict, col: str) -> set:
    """Parts already covered by ``col``'s bloom sidecars (coverage
    markers only — O(parts) metadata read, no positions)."""
    import pyarrow.parquet as pq

    tdir = os.path.join(warehouse, table)
    covered: set = set()
    for sc in m["blooms"].get(col, ()):
        t = pq.read_table(
            os.path.join(tdir, sc), filters=[("pos", "=", -1)]
        )
        covered |= set(t.column("p").to_pylist())
    return covered


def _write_bloom_sidecar(
    spark: SparkSession,
    warehouse: str,
    table: str,
    m: dict,
    col: str,
    todo: list[str],
    name: str,
) -> None:
    """ONE Spark job hashing ``col`` of ``todo``'s rows to DISTINCT
    (part, position) bloom rows, written with per-part coverage markers
    and the column-kind marker to sidecar ``name``.  The column must be
    string or integral — the only families whose Python ``str(literal)``
    round-trips Spark's cast-to-string byte-identically (a DOUBLE would
    build '100.0' but probe '100': a silent false DROP)."""
    from pyspark.sql import types as T

    tdir = os.path.join(warehouse, table)
    rel = _rel_file_expr(tdir)
    hexd = F.md5(F.col(col).cast("string"))
    pos_exprs = [
        (
            F.conv(F.substring(hexd, 1 + 8 * i, 8), 16, 10).cast("long")
            % BLOOM_BITS
        ).cast("int")
        for i in range(BLOOM_K)
    ]
    scan = None
    kind = None
    for br in _part_branches(
        spark, warehouse, table, todo, m["specs"], m["schema"]
    ):
        dt = br.schema[col].dataType
        if isinstance(dt, T.StringType):
            bk = "s"
        elif isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            bk = "i"
        else:
            raise RuntimeError(
                f"{table}.{col}: bloom index requires a string or "
                f"integral column, got {dt.simpleString()} (other "
                f"families' literals do not round-trip cast-to-string)"
            )
        _require(
            kind in (None, bk), f"{table}.{col}: mixed column kinds"
        )
        kind = bk
        b = br.select(
            F.split(rel, "/").getItem(0).alias("p"),
            F.explode(F.array(*pos_exprs)).alias("pos"),
        )
        scan = b if scan is None else scan.unionByName(b)
    rows = scan.filter(F.col("pos").isNotNull()).distinct()
    rows.coalesce(1).write.parquet(os.path.join(tdir, name))
    # the coverage/kind markers land as a SECOND file in the sidecar
    # dir; every value is driver-known, so the file is written directly
    # with pyarrow (same schema Spark wrote for the position rows:
    # p string, pos int32) instead of spending a Spark job on a literal
    # relation — the same shape the stream sinks use for txn_log rows.
    # The dir is private until the manifest references it, so the
    # two-file write is commit-safe.
    import glob as _glob

    import pyarrow as _pa
    import pyarrow.parquet as _papq

    # derive the pos arrow type from the file Spark JUST wrote, so the
    # two files in one sidecar dir can never diverge if the position
    # expression's cast ever changes — a mismatch would otherwise only
    # surface as a dataset-schema-unification error at probe time, far
    # from this write (ADVICE r10)
    spark_part = _glob.glob(os.path.join(tdir, name, "part-*.parquet"))[0]
    pos_type = _papq.ParquetFile(spark_part).schema_arrow.field("pos").type
    _papq.write_table(
        _pa.table(
            {
                "p": _pa.array(list(todo) + [""], _pa.string()),
                "pos": _pa.array(
                    [-1] * len(todo)
                    + [_BLOOM_KIND_S if kind == "s" else _BLOOM_KIND_I],
                    pos_type,
                ),
            }
        ),
        os.path.join(tdir, name, "markers-00000.parquet"),
    )


def describe_bloom_coverage(
    spark: SparkSession, warehouse: str, table: str
) -> DataFrame:
    """Index-staleness introspection (the DESCRIBE-HISTORY companion for
    bloom indexes): one row per indexed column with live-part coverage
    counts and the uncovered part list — what an operator checks before
    relying on point-lookup pruning, and what tells them an OPTIMIZE
    (which tops coverage up) is due.  Pure metadata: one manifest read
    plus coverage-marker sidecar reads, no Spark job over data."""
    cur = _current_version(warehouse, table)
    _require(cur > 0, f"{table}: coverage report on an empty table")
    m = _read_manifest_file(warehouse, table, cur)
    rows = []
    for col in sorted(m["blooms"]):
        covered = _bloom_covered(warehouse, table, m, col)
        uncovered = sorted(p for p in m["parts"] if p not in covered)
        rows.append(
            (
                col,
                len(m["parts"]),
                len(m["parts"]) - len(uncovered),
                uncovered,
            )
        )
    if not rows:
        return spark.createDataFrame(
            [],
            "col string, n_parts int, n_covered int, "
            "uncovered array<string>",
        )
    return spark.createDataFrame(
        rows,
        "col string, n_parts int, n_covered int, uncovered array<string>",
    )


def _maintain_blooms(
    spark: SparkSession,
    warehouse: str,
    table: str,
    m: dict,
    candidates: list[str],
    tag: str,
) -> dict[str, list[str]] | None:
    """Same-commit bloom index maintenance: for every indexed column,
    build ONE sidecar covering the ``candidates`` parts not already
    covered, returning the manifest ``blooms`` additions to commit
    atomically with the parts themselves.  Rewrite paths (COW delete /
    MERGE / compaction / OPTIMIZE) pass the parts they produced, so a
    churning table never silently degrades to full-scan point lookups;
    OPTIMIZE additionally passes the surviving parts, topping up
    coverage over since-appended parts (the Delta posture: appends land
    uncovered and cheap, maintenance rides the layout verb).  Cost is
    O(candidate data) per indexed column — the parts were just written,
    so the rebuild reads what the commit already paid to produce.
    Columns the candidates lack (pre-evolution rewrites) or whose type
    family is un-indexable are skipped — uncovered is always correct,
    only slower."""
    if not m["blooms"] or not candidates:
        return None
    import glob as _glob

    import pyarrow.parquet as pq

    tdir = os.path.join(warehouse, table)
    add: dict[str, list[str]] = {}
    for col in sorted(m["blooms"]):
        todo = [
            p
            for p in candidates
            if p not in _bloom_covered(warehouse, table, m, col)
        ]
        # a part whose files lack the column cannot be covered (its
        # rows all read NULL — never equal to a probe literal, so
        # leaving it uncovered merely keeps it conservatively)
        todo = [
            p
            for p in todo
            if all(
                col in set(pq.ParquetFile(f).schema_arrow.names)
                for f in _glob.glob(
                    os.path.join(tdir, p, "**", "*.parquet"),
                    recursive=True,
                )
            )
        ]
        if not todo:
            continue
        name = f"bl.{tag}.{col}"
        _require(
            not os.path.exists(os.path.join(tdir, name)),
            f"bloom maintenance sidecar {name} collides",
        )
        try:
            _write_bloom_sidecar(spark, warehouse, table, m, col, todo, name)
        except RuntimeError:
            continue  # un-indexable family: stay uncovered (correct)
        add[col] = [name]
    return add or None


def _predicates_column(predicates: list[tuple]) -> F.Column:
    """The conjunction of structured ``[(col, op, literal), ...]``
    predicates as one boolean Column (NULL where any comparison is
    NULL — callers decide three-valued handling).  Naive datetimes are
    pinned to UTC: they were ENCODED as UTC by ``_enc_stat``, but
    PySpark converts a naive literal via the HOST's local timezone
    (TimestampType.toInternal uses time.mktime) — on a non-UTC host
    the residual filter and the pruning would disagree by the UTC
    offset and silently drop rows."""
    import datetime as _dt

    def _pin(x):
        if isinstance(x, _dt.datetime) and x.tzinfo is None:
            return x.replace(tzinfo=_dt.timezone.utc)
        return x

    out = F.lit(True)
    for col, op, val in predicates:
        c = F.col(col)
        if op == "in":
            term = (
                c.isin([_pin(x) for x in val]) if val else F.lit(False)
            )
        else:
            v = F.lit(_pin(val))
            term = {
                "=": c == v,
                "<": c < v,
                "<=": c <= v,
                ">": c > v,
                ">=": c >= v,
            }[op]
        out = out & term
    return out


def read_table_where(
    spark: SparkSession,
    warehouse: str,
    table: str,
    predicates: list[tuple],
    version: int | None = None,
) -> DataFrame:
    """Snapshot read with manifest-stats file skipping: parts whose stats
    prove no row can match are never opened (not even their footers), the
    survivors are scanned, and the FULL predicate is still applied to the
    scan — correctness never depends on the pruning, exactly like Delta's
    dataSkippingNumIndexedCols read path.  On a clustered/Z-ordered
    layout this is what turns a point query over 100 TB into a few-file
    read."""
    kept, m = prune_parts(warehouse, table, predicates, version)

    def residual(df: DataFrame) -> DataFrame:
        return df.filter(_predicates_column(predicates))

    if not kept:
        # provably-empty result: full schema, LocalRelation plan, no scan
        full = read_table(spark, warehouse, table, version)
        _require(
            full is not None, f"{table}: pruning read on an empty snapshot"
        )
        return residual(full).filter(F.lit(False))
    if m["row_base"] is not None:
        df = _scan_with_row_ids(spark, warehouse, table, kept, m).drop(
            "_row_id"
        )
    else:
        df = _read_parts_live(
            spark,
            warehouse,
            table,
            kept,
            {p: s for p, s in m["specs"].items()},
            m["dv"],
            m["schema"],
        )
    if m["drops"]:
        df = df.drop(*m["drops"])
    for phys, logical in m["renames"].items():
        df = df.withColumnRenamed(phys, logical)
    return residual(df)


# Optimize-write file-count targets (the Delta optimizeWrite idea: bound
# output files per commit instead of inheriting the job's task count, which
# otherwise writes 32 tiny files per part locally — measured 11.8 s -> 7.6 s
# for the 3-batch pipeline at sf0.1, all of it parquet-writer fixed cost).
# At 100 TB the append target is computed from delta BYTES (~128 MB files),
# not a constant; COW stays at 1 because COW is only used for relations that
# are small by contract (dims, merged aggregates).
COW_WRITE_FILES = 1
APPEND_WRITE_FILES = 4


def _commit(df: DataFrame, warehouse: str, table: str, version: int) -> None:
    """Copy-on-write commit: write snapshot ``v{version}``, then swing the
    manifest to exactly that snapshot (atomic on the reader side: the
    manifest names only fully-written directories).  For SMALL relations —
    dims, merged aggregates, anything a keyed merge rewrites anyway."""
    path = os.path.join(warehouse, table, f"v{version}")
    df = _apply_generated(df, warehouse, table)
    df.coalesce(COW_WRITE_FILES).write.mode("overwrite").parquet(path)
    _enforce_constraints(df.sparkSession, warehouse, table, f"v{version}")
    _swing(warehouse, table, [f"v{version}"])


def _commit_append(
    delta: DataFrame, warehouse: str, table: str, version: int
) -> None:
    """Append-only commit: write the DELTA as part ``p{version}``, then
    swing the manifest to the previous part list plus the new part — the
    Delta/Iceberg append transaction on plain parquet.

    This is the ONLY viable commit for the big tables at 100 TB: a
    copy-on-write snapshot rewrites the whole table per batch (O(table)
    I/O for an O(delta) change); an append writes the delta and one
    manifest.  Readers still get snapshot isolation — a reader holds
    whichever part list it opened with."""
    part = f"p{version}"
    base = _current_version(warehouse, table)
    delta = _apply_generated(delta, warehouse, table)
    delta.coalesce(APPEND_WRITE_FILES).write.mode("overwrite").parquet(
        os.path.join(warehouse, table, part)
    )
    _enforce_constraints(delta.sparkSession, warehouse, table, part)
    # append ∥ anything-disjoint auto-rebases: a concurrent commit
    # landing between the base read and the swing is replayed under,
    # never silently dropped (the lost-update hazard of an absolute
    # part-list swing)
    swing_rebase(warehouse, table, base, [part])


def _merge_user_dim(existing: DataFrame | None, delta: DataFrame) -> DataFrame:
    """Associative dim combine: MIN(first_seen), SUM(total_plays) over the
    union — the semantics the reference's ON CONFLICT DO UPDATE intended
    (daily_etl_pipeline.py:365-367; see SURVEY.md §7.3 on its dead-code
    quirk).  Order- and batch-boundary-independent by construction."""
    both = delta if existing is None else existing.unionByName(delta)
    return both.groupBy("user_id").agg(
        F.min("first_seen").alias("first_seen"),
        F.sum("total_plays").alias("total_plays"),
    )


def run_incremental_etl(
    spark: SparkSession,
    events: DataFrame,
    warehouse: str,
    batch_id: int,
) -> dict:
    """One watermark-driven incremental run.  ``events`` is the source
    relation (at-least-once: rows at or before the stored watermark are
    ignored; redelivered rows past it dedup on event_id)."""
    os.makedirs(warehouse, exist_ok=True)
    log = read_table(spark, warehouse, "etl_log")
    wm = None
    if log is not None:
        wm = log.agg(F.max("batch_wm")).collect()[0][0]

    new = events.filter(F.col("ts") > F.lit(wm)) if wm is not None else events
    # one pass over the (possibly large) delta feeds every stage below
    new = new.transform(stable_checkpoint)
    # NOTE: a "merge the count into the watermark agg + createDataFrame"
    # rewrite measured ~2 s SLOWER per suite run — the lazy wm_row agg
    # below folds into the etl_log write job for free, while the 1-row
    # createDataFrame pays a Python->JVM conversion per batch
    n_new = new.count()
    if n_new == 0:
        return {"batch_id": batch_id, "n_new": 0, "skipped": True}

    # novel = rows whose event_id is genuinely absent from the warehouse:
    # the watermark already excludes re-delivered history, the anti-join
    # covers at-least-once overlap past it.  Every append below writes
    # exactly this delta — the whole batch is O(delta) write I/O, never a
    # table rewrite (see _commit_append).
    bronze_prev = read_table(spark, warehouse, "bronze")
    novel = new.dropDuplicates(["event_id"])
    if bronze_prev is not None:
        novel = novel.join(
            bronze_prev.select("event_id"), "event_id", "left_anti"
        )
    novel = novel.transform(stable_checkpoint)
    _commit_append(novel, warehouse, "bronze", batch_id)
    bronze = read_table(spark, warehouse, "bronze")

    # silver/fact rows are keyed by event_id and derived row-wise from the
    # novel bronze delta, so appending the derived delta preserves the
    # no-duplicate invariant without re-reading either table
    _commit_append(clean_events(novel), warehouse, "silver", batch_id)
    # the just-written silver part IS the cleaned delta — read it back for
    # the fact build instead of re-deriving clean_events a second time
    silver_delta = read_parquet(
        spark, os.path.join(warehouse, "silver", f"p{batch_id}")
    )

    du_delta = novel.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_seen"),
        F.count(F.lit(1)).alias("total_plays"),
    )
    du = _merge_user_dim(read_table(spark, warehouse, "dim_user"), du_delta)
    _commit(du, warehouse, "dim_user", batch_id)
    du = read_table(spark, warehouse, "dim_user")

    det = event_type_dim(bronze)
    _commit(det, warehouse, "dim_event_type", batch_id)
    det = read_table(spark, warehouse, "dim_event_type")

    fact_delta = fact_from(silver_delta, date_dim(spark), det, du)
    _commit_append(fact_delta, warehouse, "fact", batch_id)

    touched = novel.select(F.to_date("ts").alias("played_date")).distinct()
    stats_delta = daily_stats(
        bronze.join(
            F.broadcast(touched),
            F.to_date("ts") == F.col("played_date"),
            "left_semi",
        )
    )
    stats_prev = read_table(spark, warehouse, "agg_daily_stats")
    stats = (
        stats_delta
        if stats_prev is None
        else merge_upsert(stats_prev, stats_delta, ["played_date"])
    )
    _commit(stats, warehouse, "agg_daily_stats", batch_id)

    wm_row = new.agg(
        F.max("ts").alias("batch_wm"), F.count(F.lit(1)).alias("n_rows")
    ).select(F.lit(batch_id).alias("batch_id"), "batch_wm", "n_rows")
    _commit_append(wm_row, warehouse, "etl_log", batch_id)

    return {"batch_id": batch_id, "n_new": n_new, "skipped": False}


def split_ts(events: DataFrame):
    """Deterministic mid-span timestamp (min + (max-min)/2) for batch
    splits in tests and the gate query."""
    row = events.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).collect()[0]
    import datetime as dt

    # integer-exact epoch-microsecond arithmetic (a float round-trip could
    # shift the cut by 1 µs and flip a boundary event between snapshots)
    return dt.datetime(1970, 1, 1) + dt.timedelta(
        microseconds=(row.lo + row.hi) // 2
    )


# Both pipeline gates consume the SAME two-batch incremental build (batch 1 =
# events up to the mid-span cut, batch 2 = the rest).  A production
# incremental warehouse PERSISTS between queries — rebuilding it from scratch
# inside each gate was the artificial part (16 s of the round-2 bench suite
# was exactly that duplicated fixed cost).  Build once per (session, sf_dir),
# record the post-batch-1 fact manifest for the CDC gate, reclaim at exit.
# ASSUMPTION (documented, not checked): the parquet under sf_dir is an
# immutable fixture for the life of the process — the cache is keyed on the
# path alone, so mutating the source data in-place would serve a stale
# warehouse.  Fixture dirs here are driver-generated and never rewritten.
_WAREHOUSE_CACHE: dict[str, tuple[str, list[str]]] = {}


def _shared_two_batch_warehouse(
    spark: SparkSession, sf_dir: str
) -> tuple[str, list[str]]:
    if sf_dir in _WAREHOUSE_CACHE:
        cached = _WAREHOUSE_CACHE[sf_dir]
        try:
            # keep the dir's mtime fresh: a CONCURRENT process's startup
            # sweep (session.sweep_orphaned_tmp) reclaims spark_spotify_*
            # dirs idle past its age gate, and this cache can outlive it
            # in a long session
            os.utime(cached[0])
        except OSError:
            pass
        return cached
    import atexit
    import shutil
    import tempfile

    events = load_table(spark, sf_dir, "events")
    median = split_ts(events)
    warehouse = tempfile.mkdtemp(prefix="spark_spotify_wh_")
    atexit.register(shutil.rmtree, warehouse, ignore_errors=True)
    run_incremental_etl(
        spark, events.filter(F.col("ts") <= F.lit(median)), warehouse, 1
    )
    v1 = list(_manifest(warehouse, "fact") or [])
    run_incremental_etl(spark, events, warehouse, 2)
    _WAREHOUSE_CACHE[sf_dir] = (warehouse, v1)
    return warehouse, v1


def q_incremental_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate proof of the incrementality invariant: split the events
    table at its mid-span timestamp, run the two halves as successive
    watermark-driven batches (then re-deliver the full source as a third
    batch — which must be a no-op, asserted here), and return the
    warehouse fact table — the oracle is the SAME single-shot star-join
    SQL as ``etl_fact_star``, so the gate asserts incremental == batch."""
    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    # at-least-once redelivery proof runs on EVERY invocation: the full
    # source re-delivered against the caught-up watermark must commit
    # nothing (and must not disturb the manifest the CDC gate reads)
    res = run_incremental_etl(
        spark, load_table(spark, sf_dir, "events"), warehouse, 3
    )
    _require(res["skipped"] and res["n_new"] == 0, res)
    return read_table(spark, warehouse, "fact")


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot change feed over the manifest-versioned
    warehouse — the Delta/Iceberg CDC "what did this commit add" read.
    The diff is the PART-LIST set difference between the fact manifests
    before and after batch 2 — an O(changed-parts) metadata operation plus
    a read of exactly the new parts, never a table scan or row-level diff
    join.  That manifest arithmetic is the whole point of append-only
    commits: change capture is free because every commit names its delta.

    Oracle: the single-shot star-join SQL restricted to events past the
    cut — asserting the batch-2 part holds exactly the rows a ts-filtered
    batch build would produce."""
    warehouse, v1 = _shared_two_batch_warehouse(spark, sf_dir)
    v2 = _manifest(warehouse, "fact") or []
    added = [p for p in v2 if p not in set(v1)]
    if not added:
        # a commit can legitimately add nothing (all events at or
        # before the cut) — the change feed is empty, not an error
        return read_table(spark, warehouse, "fact").limit(0)
    return read_parquet(
        spark, *[os.path.join(warehouse, "fact", p) for p in added]
    )


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel — the Delta/Iceberg ``VERSION AS OF`` read on
    plain parquet: the fact table exactly as committed by batch 1, read
    from the RETAINED v1 manifest part list while the live table has
    moved on to v2.  Zero data copies: a version is just a part list, so
    any retained manifest replays its snapshot for free (audits,
    reproducible training runs pinned to a data version).

    Oracle: the single-shot star-join SQL restricted to events at or
    before the mid-span cut — the batch-1 universe."""
    warehouse, v1 = _shared_two_batch_warehouse(spark, sf_dir)
    if not v1:
        return read_table(spark, warehouse, "fact").limit(0)
    # the batch-1 commit is manifest version 1 — VERSION AS OF proper
    return read_table(spark, warehouse, "fact", version=1)


def q_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF time travel — version resolution by commit
    wall-clock instead of version number (``SELECT ... TIMESTAMP AS OF
    t``), the form audits and reproducible-training pins actually use
    ("the table as of last midnight"), since callers rarely know version
    numbers.  Replays the two-batch commit log in an isolated dir with
    distinct commit clocks, then reads the table as of an instant BETWEEN
    the two commits — which must resolve to the batch-1 snapshot.  The
    resolution is O(versions) manifest metadata; the read itself is the
    ordinary snapshot read.

    Oracle: the batch-1 star join (same universe as etl_time_travel)."""
    import shutil
    import tempfile

    warehouse, v1 = _shared_two_batch_warehouse(spark, sf_dir)
    if not v1:
        return read_table(spark, warehouse, "fact").limit(0)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_ttts_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", v1)
        t1 = _read_manifest_file(cw, "fact", 1)["ts"]
        time.sleep(0.02)  # guarantee distinct commit clocks
        _swing(cw, "fact", parts)
        t2 = _read_manifest_file(cw, "fact", 2)["ts"]
        _require(t2 > t1, "commit clocks must advance")
        out = read_table(spark, cw, "fact", as_of_ts=(t1 + t2) / 2)
        return stable_checkpoint(out)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def compact_table(
    spark: SparkSession, warehouse: str, table: str, tag: str
) -> None:
    """Small-file compaction — Delta OPTIMIZE / Iceberg rewrite_data_files
    on the manifest-versioned warehouse: read the current part list,
    rewrite it as ONE part, swing the manifest to exactly that part.  A
    metadata-atomic REWRITE commit: no logical rows change, readers
    holding the old part list are untouched, and the append-era small
    files become garbage collectable once unreferenced.  At 100 TB the
    rewrite targets ~128 MB files per partition instead of 1 global file;
    the manifest mechanics are identical."""
    m = _read_manifest_file(
        warehouse, table, _current_version(warehouse, table)
    )
    parts = m["parts"]
    # DV-aware read: compaction MATERIALIZES outstanding deletion
    # vectors — the rewritten part carries only surviving rows and the
    # new manifest references no sidecars (Delta's REORG ... PURGE).
    # Row-tracked tables carry _row_id through the rewrite.
    if m["row_base"] is not None:
        df = _scan_with_row_ids(spark, warehouse, table, parts, m)
    else:
        df = _read_parts_live(
            spark, warehouse, table, parts, m["specs"], m["dv"],
            m["schema"],
        )
    new_part = f"c{tag}"
    df.coalesce(COW_WRITE_FILES).write.mode("overwrite").parquet(
        os.path.join(warehouse, table, new_part)
    )
    # a whole-table rewrite orphans every existing bloom sidecar —
    # rebuild coverage for the replacement in the SAME commit (the old
    # names drop from the mapping; their bytes stay for time travel)
    badd = _maintain_blooms(spark, warehouse, table, m, [new_part], new_part)
    _swing(
        warehouse,
        table,
        [new_part],
        blooms=(badd or {}) if m["blooms"] else None,
    )


def optimize_table(
    spark: SparkSession,
    warehouse: str,
    table: str,
    target_bytes: int,
    tag: str = "opt",
    predicates: list[tuple] | None = None,
    zorder_by: tuple[str, str] | None = None,
    incremental: bool = False,
    min_bytes: int | None = None,
) -> int:
    """INCREMENTAL small-file compaction — the real ``OPTIMIZE`` /
    ``rewrite_data_files`` semantics that :func:`compact_table`'s
    whole-table rewrite approximates: only parts SMALLER than
    ``target_bytes`` are bin-packed into ~target-sized replacement
    files; right-sized parts keep their bytes untouched.  Cost is
    O(undersized data), so a daily optimize over a 100 TB table touches
    only the trickle of small append parts, never the compacted bulk.
    Commits through :func:`swing_rebase`, so a concurrent disjoint
    append lands cleanly while a concurrent rewrite of the same parts
    conflicts (exactly-one-winner).  Spec'd (hive-partitioned) small
    parts fold into the plain replacement — the same spec-forwarding
    compaction contract as compact_table.  Returns the number of parts
    folded (0 = nothing to do).

    ``zorder_by=(c1, c2)`` switches the verb to Delta's ``OPTIMIZE ...
    ZORDER BY``: every in-scope part (size no longer gates — the point
    is re-clustering, not bin-packing) is rewritten ordered by the
    bit-interleaved Z-value of the two INTEGRAL columns, and the output
    lands as one part per Z-range so the manifest's per-part min/max
    stats become selective on BOTH columns at once (single-key
    clustering can never skip on its second key).  Grid bounds come
    from the MANIFEST STATS, not a scan — at 100 TB the planner already
    holds them.  Bloom sidecars auto-maintain through the rewrite in
    the same commit, like every other layout verb.

    ``incremental=True`` (ZORDER only) applies the bin-pack arm's
    small-file selection to the re-clustering verb: only parts UNDER
    ``target_bytes`` — the trickle of appends that landed since the
    last layout pass — are rewritten, Z-valued against the FULL
    manifest's grid bounds so the new ranges are comparable with the
    standing clustered generation, whose bytes stay untouched.  Fewer
    than two small parts is a no-op (the same ≥2 guard as bin-packing:
    once a trickle graduates into a right-sized Z-range it is never
    re-selected, so repeated runs are self-stabilizing instead of
    rewriting the same bytes forever).  This is the ZCube-style
    maintenance loop clustered 100 TB tables actually run — the
    nightly pass touches O(new data), never the clustered bulk."""
    import math

    base = _current_version(warehouse, table)
    parts = _manifest(warehouse, table, base) or []
    m = _read_manifest_file(warehouse, table, base)
    tdir = os.path.join(warehouse, table)
    # OPTIMIZE WHERE: scope the verb to a key range via the SAME
    # manifest-stats pruning the read path uses (pure metadata) — the
    # form a 100 TB table actually runs (compact yesterday's
    # partition); out-of-scope parts are never sized, opened, or
    # rewritten
    cand = parts
    if predicates:
        scope, _ = prune_parts(warehouse, table, predicates, base)
        in_scope = set(scope)
        cand = [p for p in parts if p in in_scope]

    def psize(p: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(os.path.join(tdir, p)):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
        return total

    sizes = {p: psize(p) for p in cand}
    if zorder_by is not None:
        grid_parts = None
        if incremental:
            # selection threshold vs output target are SEPARATE dials
            # (Delta's autoCompact.minFileSize vs maxFileSize): outputs
            # land near target_bytes, so selecting at target_bytes would
            # re-fold every graduated range forever; min_bytes below
            # target keeps graduation permanent
            sel = min_bytes if min_bytes is not None else target_bytes
            grid_parts = cand  # grid over the FULL in-scope manifest
            cand = [p for p in cand if sizes[p] < sel]
            if len(cand) < 2:
                return 0
        return _optimize_zorder(
            spark, warehouse, table, target_bytes, tag, zorder_by,
            base, parts, m, cand, sizes, grid_parts=grid_parts,
        )
    small = [p for p in cand if sizes[p] < target_bytes]
    if len(small) < 2:
        return 0
    new_part = f"o{tag}"
    _require(
        new_part not in parts
        and not os.path.exists(os.path.join(tdir, new_part)),
        f"optimize tag {tag!r} collides with {new_part}",
    )
    # folding small parts MATERIALIZES their deletion vectors (the
    # replacement part has no dv entry); untouched parts keep theirs;
    # row-tracked tables carry _row_id through the fold
    if m["row_base"] is not None:
        df = _scan_with_row_ids(spark, warehouse, table, small, m)
    else:
        df = _read_parts_live(
            spark, warehouse, table, small, m["specs"], m["dv"],
            m["schema"],
        )
    n_files = max(
        1,
        min(len(small), math.ceil(sum(sizes[p] for p in small)
                                  / target_bytes)),
    )
    df.coalesce(n_files).write.mode("overwrite").parquet(
        os.path.join(tdir, new_part)
    )
    # OPTIMIZE is the index-maintenance verb: cover the folded output
    # AND top up any surviving part appended since the last build, in
    # the same commit — point-lookup pruning stays exact as the table
    # churns instead of silently degrading
    badd = _maintain_blooms(
        spark,
        warehouse,
        table,
        m,
        [new_part] + [p for p in parts if p not in small],
        new_part,
    )
    swing_rebase(
        warehouse, table, base, [new_part], set(small), blooms_add=badd
    )
    return len(small)


def _optimize_zorder(
    spark: SparkSession,
    warehouse: str,
    table: str,
    target_bytes: int,
    tag: str,
    zorder_by: tuple[str, str],
    base: int,
    parts: list[str],
    m: dict,
    cand: list[str],
    sizes: dict[str, int],
    grid_parts: list[str] | None = None,
) -> int:
    """The ZORDER arm of :func:`optimize_table` (see its docstring).
    Writes the in-scope rows range-partitioned and sorted on the
    Z-value, promotes each range to its OWN part (``o{tag}z{i}``) so
    part-level stats pruning — the engine's planning granularity —
    sees the clustering, and commits the swap with same-commit bloom
    maintenance via :func:`swing_rebase` (concurrent disjoint appends
    rebase under it; a concurrent rewrite of the same parts
    conflicts)."""
    import glob as _glob
    import math
    import shutil

    if not cand:
        return 0
    c1, c2 = zorder_by
    tdir = os.path.join(warehouse, table)

    # grid bounds from the manifest's per-part stats — pure metadata
    # (incremental mode grids over the FULL in-scope manifest so the
    # rewritten trickle's Z-values are comparable with the standing
    # clustered generation's)
    def _bounds(col: str) -> tuple[int, int]:
        los, his = [], []
        for p in grid_parts if grid_parts is not None else cand:
            st = (m["stats"].get(p) or {}).get(col)
            if st and st.get("n", 0) and st.get("lo") is not None:
                los.append(int(st["lo"]))
                his.append(int(st["hi"]))
        _require(
            bool(los),
            f"ZORDER BY {col}: no integral stats in the manifest "
            "(commit stats are required to derive the grid)",
        )
        return min(los), max(his)

    lo1, hi1 = _bounds(c1)
    lo2, hi2 = _bounds(c2)
    cells = 1 << Z_GRID_BITS
    b1 = f"cast(({c1} - {lo1}) * {cells} / {max(hi1 - lo1, 0) + 1} as int)"
    b2 = f"cast(({c2} - {lo2}) * {cells} / {max(hi2 - lo2, 0) + 1} as int)"
    # the rewrite MATERIALIZES deletion vectors and carries _row_id on
    # tracked tables — identical contract to the bin-pack arm
    if m["row_base"] is not None:
        df = _scan_with_row_ids(spark, warehouse, table, cand, m)
    else:
        df = _read_parts_live(
            spark, warehouse, table, cand, m["specs"], m["dv"], m["schema"]
        )
    n_ranges = max(
        1, math.ceil(sum(sizes[p] for p in cand) / max(target_bytes, 1))
    )
    tmp = os.path.join(tdir, f"_zopt_{tag}")
    (
        df.withColumn("_z", _zorder_expr(b1, b2))
        .repartitionByRange(n_ranges, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.parquet(tmp)
    )
    new_parts = []
    for i, f in enumerate(sorted(_glob.glob(os.path.join(tmp, "*.parquet")))):
        pname = f"o{tag}z{i}"
        pdir = os.path.join(tdir, pname)
        _require(
            pname not in parts and not os.path.exists(pdir),
            f"optimize tag {tag!r} collides with {pname}",
        )
        os.makedirs(pdir)
        os.rename(f, os.path.join(pdir, os.path.basename(f)))
        new_parts.append(pname)
    shutil.rmtree(tmp, ignore_errors=True)
    badd = _maintain_blooms(
        spark,
        warehouse,
        table,
        m,
        new_parts + [p for p in parts if p not in set(cand)],
        f"o{tag}",
    )
    swing_rebase(
        warehouse, table, base, new_parts, set(cand), blooms_add=badd
    )
    return len(cand)


def q_optimize_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental OPTIMIZE gate: one right-sized part plus four
    small-append parts; ``optimize_table`` must fold exactly the four
    small ones (gate-required) while the big part's bytes are untouched
    (same inode — proven, not assumed), and the table is row-identical
    before and after.

    Oracle: a plain projection of the events corpus — OPTIMIZE is a
    physical-layout verb and must never change a logical row."""
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    w = tempfile.mkdtemp(prefix="spark_spotify_opt_")
    try:
        _commit_append(ev.filter(F.col("event_id") % 2 == 0), w, "t", 1)
        for k in range(4):
            _commit_append(
                ev.filter(F.col("event_id") % 8 == 2 * k + 1), w, "t", k + 2
            )
        tdir = os.path.join(w, "t")
        big_file = next(
            f
            for f in sorted(os.listdir(os.path.join(tdir, "p1")))
            if f.endswith(".parquet")
        )
        big_ino = os.stat(os.path.join(tdir, "p1", big_file)).st_ino
        big_bytes = sum(
            os.path.getsize(os.path.join(tdir, "p1", f))
            for f in os.listdir(os.path.join(tdir, "p1"))
            if f.endswith(".parquet")
        )
        n_folded = optimize_table(spark, w, "t", big_bytes, tag="g1")
        _require(n_folded == 4, f"folded {n_folded} parts, expected 4")
        parts = _manifest(w, "t") or []
        _require(
            sorted(parts) == ["og1", "p1"],
            f"optimize left wrong part list: {parts}",
        )
        _require(
            os.stat(os.path.join(tdir, "p1", big_file)).st_ino == big_ino,
            "right-sized part must keep its bytes",
        )
        # a second optimize at the same target is a no-op
        _require(
            optimize_table(spark, w, "t", big_bytes, tag="g2") in (0, 2),
            "re-optimize regressed",
        )
        return read_table(spark, w, "t").transform(stable_checkpoint)
    finally:
        shutil.rmtree(w, ignore_errors=True)


OPT_WHERE_MID = 7  # user-id scope boundary for the OPTIMIZE WHERE gate


def q_optimize_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE WHERE gate — predicate-scoped compaction, the form a
    100 TB table actually runs (compact one partition's trickle of
    small appends; never walk the table): six small parts land with
    DISJOINT user-id ranges (three ≤ {OPT_WHERE_MID}, three above);
    ``optimize_table`` scoped to ``user_id <= {OPT_WHERE_MID}`` must
    fold exactly the three in-scope parts — resolved purely from
    manifest stats, no data I/O on the rest, every out-of-scope part
    byte-untouched (inode-proven) — and the table stays row-identical.

    Oracle: a plain projection of the events corpus — scoped OPTIMIZE
    is a physical-layout verb and must never change a logical row."""
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    lo = ev.filter(F.col("user_id") <= OPT_WHERE_MID)
    hi = ev.filter(F.col("user_id") > OPT_WHERE_MID)
    w = tempfile.mkdtemp(prefix="spark_spotify_optw_")
    try:
        for k in range(3):
            _commit_append(
                lo.filter(F.col("event_id") % 3 == k), w, "t", k + 1
            )
        for k in range(3):
            _commit_append(
                hi.filter(F.col("event_id") % 3 == k), w, "t", k + 4
            )
        tdir = os.path.join(w, "t")

        def _inodes(ps):
            out = {}
            for p in ps:
                for f in os.listdir(os.path.join(tdir, p)):
                    if f.endswith(".parquet"):
                        out[f"{p}/{f}"] = os.stat(
                            os.path.join(tdir, p, f)
                        ).st_ino
            return out

        before = _inodes(["p4", "p5", "p6"])
        n_folded = optimize_table(
            spark,
            w,
            "t",
            1 << 40,  # everything in scope is "small": fold it all
            tag="w1",
            predicates=[("user_id", "<=", OPT_WHERE_MID)],
        )
        _require(n_folded == 3, f"folded {n_folded} parts, expected 3")
        parts = _manifest(w, "t") or []
        _require(
            sorted(parts) == ["ow1", "p4", "p5", "p6"],
            f"scoped optimize left wrong part list: {parts}",
        )
        _require(
            _inodes(["p4", "p5", "p6"]) == before,
            "an out-of-scope part's bytes moved",
        )
        return read_table(spark, w, "t").transform(stable_checkpoint)
    finally:
        shutil.rmtree(w, ignore_errors=True)


def q_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... ZORDER BY gate (VERDICT r7 #5) — the layout verb
    Delta/Iceberg pair with OPTIMIZE so min/max skipping stays
    selective on TWO columns as the table churns: four append parts
    each spanning the FULL (user_id, day) range land (the natural
    ingest layout — proven unprunable on either column first), then
    ``optimize_table(zorder_by=("user_id", "day"))`` rewrites them
    Z-clustered into one part per Z-range.  Post-OPTIMIZE the gate
    proves, from the manifest alone (``prune_parts`` — the exact
    planning path a point query takes):

    - a user-only point predicate prunes parts (impossible before),
    - a day-only point predicate prunes parts (single-key clustering
      can never give both),
    - the two-predicate point query prunes >= 50% of parts,
    - the pre-existing bloom index on event_id still covers every live
      part — maintenance rode the SAME commit as the rewrite.

    Oracle: a plain projection of the events corpus — Z-ordered
    OPTIMIZE is a physical-layout verb and must never change a logical
    row."""
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
        "value",
    )
    w = tempfile.mkdtemp(prefix="spark_spotify_optz_")
    try:
        # event_id % 4 split: every part spans the full range of BOTH
        # clustering columns, so pre-OPTIMIZE stats can prune nothing
        for k in range(4):
            _commit_append(
                ev.filter(F.col("event_id") % 4 == k), w, "t", k + 1
            )
        add_bloom_index(spark, w, "t", "event_id", "z0")
        st = _read_manifest_file(w, "t", _current_version(w, "t"))[
            "stats"
        ]["p1"]
        # quarter-point probes discriminate harder than midpoints (a
        # midpoint sits on every balanced range boundary)
        ulo, uhi = int(st["user_id"]["lo"]), int(st["user_id"]["hi"])
        dlo, dhi = int(st["day"]["lo"]), int(st["day"]["hi"])
        probe_u = ulo + (uhi - ulo) // 4
        probe_d = dlo + (dhi - dlo) // 2
        pre_u, _ = prune_parts(w, "t", [("user_id", "=", probe_u)])
        pre_d, _ = prune_parts(w, "t", [("day", "=", probe_d)])
        _require(
            len(pre_u) == 4 and len(pre_d) == 4,
            "append layout was already prunable — gate setup broken",
        )
        tdir = os.path.join(w, "t")
        # size the LIVE PARTS only (bloom sidecars also live under the
        # table dir and would inflate the range-count arithmetic)
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for p in (_manifest(w, "t") or [])
            for root, _dirs, files in os.walk(os.path.join(tdir, p))
            for f in files
            if f.endswith(".parquet")
        )
        n = optimize_table(
            spark,
            w,
            "t",
            max(total // 8, 1),  # ~8 Z-range parts
            tag="z1",
            zorder_by=("user_id", "day"),
        )
        _require(n == 4, f"zorder optimize rewrote {n} parts, expected 4")
        parts = _manifest(w, "t") or []
        _require(
            all(p.startswith("oz1z") for p in parts) and len(parts) >= 4,
            f"zorder optimize left wrong part list: {parts}",
        )
        kept_u, _ = prune_parts(w, "t", [("user_id", "=", probe_u)])
        kept_d, _ = prune_parts(w, "t", [("day", "=", probe_d)])
        kept_both, _ = prune_parts(
            w,
            "t",
            [("user_id", "=", probe_u), ("day", "=", probe_d)],
        )
        np = len(parts)
        _require(len(kept_u) < np, "no part is user-prunable post-ZORDER")
        _require(len(kept_d) < np, "no part is day-prunable post-ZORDER")
        _require(
            np - len(kept_both) >= np * 0.5,
            f"two-predicate pruning too weak: kept {len(kept_both)}/{np}",
        )
        # bloom maintenance rode the rewrite commit: full live coverage
        m2 = _read_manifest_file(w, "t", _current_version(w, "t"))
        covered = _bloom_covered(w, "t", m2, "event_id")
        _require(
            all(p in covered for p in parts),
            "zorder rewrite left the event_id bloom stale",
        )
        return read_table(spark, w, "t").transform(stable_checkpoint)
    finally:
        shutil.rmtree(w, ignore_errors=True)


def q_zorder_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ZORDER maintenance gate (VERDICT r8 #5) — the
    operational loop after :func:`q_optimize_zorder`'s one-shot
    rewrite: a Z-clustered table keeps ingesting, and the nightly
    layout pass must touch O(new data), never the clustered bulk.

    - the base corpus lands as four full-range appends and is
      Z-clustered by a FULL ``optimize_table(zorder_by=...)`` (the
      expensive one-time pass);
    - two small ingest ticks append (each spans the full key range —
      the natural arrival layout);
    - ``optimize_table(..., incremental=True)`` re-clusters ONLY those
      two trickle parts, Z-valued against the full manifest's grid
      bounds — every standing Z-part's bytes survive inode-identical
      (proven, not assumed), and the rewritten bytes are bounded by
      the appended bytes (O(append), size-accounted);
    - two-column point pruning still works across BOTH clustered
      generations (``prune_parts``, manifest-only);
    - a third run with the same target is a NO-OP (returns 0): the
      graduated Z-range is right-sized and never re-selected, so the
      loop is self-stabilizing instead of rewriting the same bytes
      nightly.

    Oracle: a plain projection of the events corpus — layout verbs
    must never change a logical row."""
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
        "value",
    )
    w = tempfile.mkdtemp(prefix="spark_spotify_optzi_")
    try:
        base = ev.filter(F.col("event_id") % 20 != 0)
        for k in range(4):
            _commit_append(
                base.filter(F.col("event_id") % 4 == k), w, "t", k + 1
            )
        tdir = os.path.join(w, "t")
        st = _read_manifest_file(w, "t", _current_version(w, "t"))[
            "stats"
        ]["p1"]
        ulo, uhi = int(st["user_id"]["lo"]), int(st["user_id"]["hi"])
        dlo, dhi = int(st["day"]["lo"]), int(st["day"]["hi"])
        probe_u = ulo + (uhi - ulo) // 4
        probe_d = dlo + (dhi - dlo) // 2

        def part_bytes(p: str) -> int:
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _dirs, files in os.walk(os.path.join(tdir, p))
                for f in files
                if f.endswith(".parquet")
            )

        total = sum(part_bytes(p) for p in _manifest(w, "t") or [])
        # coarse (third-of-table) Z-ranges: each standing part must
        # dwarf a 1/40th-corpus trickle tick in BYTES even at the
        # smallest SF, where per-file parquet footer overhead (~1.5 KB)
        # dominates tiny parts
        n1 = optimize_table(
            spark, w, "t", max(total // 3, 1), tag="z1",
            zorder_by=("user_id", "day"),
        )
        _require(n1 == 4, f"base zorder rewrote {n1} parts, expected 4")
        z1_parts = list(_manifest(w, "t") or [])

        def _inodes(parts: list[str]) -> dict:
            out = {}
            for p in parts:
                for root, _d, files in os.walk(os.path.join(tdir, p)):
                    for f in files:
                        if f.endswith(".parquet"):
                            out[f"{p}/{f}"] = os.stat(
                                os.path.join(root, f)
                            ).st_ino
            return out

        z1_inos = _inodes(z1_parts)
        # two small ingest ticks, each spanning the full key range
        v = _current_version(w, "t")
        _commit_append(ev.filter(F.col("event_id") % 40 == 0), w, "t", v + 1)
        _commit_append(
            ev.filter(F.col("event_id") % 40 == 20), w, "t", v + 2
        )
        late_parts = [f"p{v + 1}", f"p{v + 2}"]
        late_bytes = sum(part_bytes(p) for p in late_parts)
        # the incremental target is the smallest standing Z-part's
        # MEASURED size: strict less-than selection takes the trickle
        # and never the standing generation, independent of parquet-
        # compression variance; the whole trickle fits one output range
        # (guarded), so the graduated part can never re-trip selection
        min_z1 = min(part_bytes(p) for p in z1_parts)
        _require(
            late_bytes <= min_z1,
            f"gate setup: trickle {late_bytes}B not under the smallest "
            f"standing Z-part {min_z1}B",
        )
        t2 = min_z1
        n2 = optimize_table(
            spark, w, "t", t2, tag="z2",
            zorder_by=("user_id", "day"), incremental=True,
        )
        _require(
            n2 == 2, f"incremental zorder rewrote {n2} parts, expected 2"
        )
        parts = _manifest(w, "t") or []
        new_parts = [p for p in parts if p not in set(z1_parts)]
        _require(
            parts[: len(z1_parts)] == z1_parts
            and all(p.startswith("oz2z") for p in new_parts),
            f"incremental zorder disturbed the standing layout: {parts}",
        )
        # O(append): standing Z-parts byte-identical (inode proof) and
        # the rewritten bytes bounded by the appended bytes
        _require(
            _inodes(z1_parts) == z1_inos,
            "incremental zorder rewrote standing Z-part bytes",
        )
        new_bytes = sum(part_bytes(p) for p in new_parts)
        _require(
            new_bytes <= 2 * late_bytes,
            f"incremental rewrite wrote {new_bytes} bytes for a "
            f"{late_bytes}-byte trickle",
        )
        # pruning preserved across both clustered generations
        kept_u, _ = prune_parts(w, "t", [("user_id", "=", probe_u)])
        kept_d, _ = prune_parts(w, "t", [("day", "=", probe_d)])
        kept_both, _ = prune_parts(
            w, "t",
            [("user_id", "=", probe_u), ("day", "=", probe_d)],
        )
        np_ = len(parts)
        _require(len(kept_u) < np_, "no user pruning post-incremental")
        _require(len(kept_d) < np_, "no day pruning post-incremental")
        # the standing generation's selectivity must survive untouched:
        # the point query still prunes >= half of it.  The graduated
        # trickle is ONE full-range part — per-part stats granularity —
        # so it adds at most one kept part per pass until the next full
        # re-cluster folds it in.
        kept_z1 = [p for p in kept_both if p in set(z1_parts)]
        _require(
            len(kept_z1) <= len(z1_parts) // 2,
            f"standing-generation pruning degraded: kept {len(kept_z1)}"
            f"/{len(z1_parts)}",
        )
        # self-stabilizing: the graduated Z-range is right-sized, so an
        # identical third pass selects nothing and rewrites nothing
        n3 = optimize_table(
            spark, w, "t", t2, tag="z3",
            zorder_by=("user_id", "day"), incremental=True,
        )
        _require(n3 == 0, f"repeat incremental pass rewrote {n3} parts")
        return read_table(spark, w, "t").transform(stable_checkpoint)
    finally:
        shutil.rmtree(w, ignore_errors=True)


_REF_PREFIX = "_ref."


def tag_version(
    warehouse: str, table: str, name: str, version: int | None = None
) -> int:
    """Iceberg-style TAG — a named, immutable ref pinning a snapshot
    version (``CREATE TAG release-v1 AS OF VERSION n``): the handle a
    reproducible training run or audit keeps instead of a raw version
    number.  One metadata file (``_ref.{{name}}`` holding the version),
    claimed put-if-absent (O_CREAT|O_EXCL) so two writers can never
    own the same name — tags are immutable; re-pointing is
    drop + re-create.  :func:`vacuum_table` retains every tagged
    version automatically, so a tag is a GC root, exactly Iceberg's
    ``expire_snapshots`` contract.  Returns the pinned version."""
    import re as _re

    _require(
        bool(_re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name)),
        f"invalid tag name {name!r}",
    )
    vs = _versions(warehouse, table)
    _require(bool(vs), f"{table}: tag on an uncommitted table")
    v = vs[-1] if version is None else version
    _require(v in vs, f"{table}: no committed version {v}")
    fd = os.open(
        os.path.join(warehouse, table, f"{_REF_PREFIX}{name}"),
        os.O_CREAT | os.O_EXCL | os.O_WRONLY,
    )
    with os.fdopen(fd, "w") as fh:
        fh.write(str(v))
    return v


def list_tags(warehouse: str, table: str) -> dict[str, int]:
    """Name -> pinned version for every tag on the table."""
    tdir = os.path.join(warehouse, table)
    out: dict[str, int] = {}
    if not os.path.isdir(tdir):
        return out
    for entry in os.listdir(tdir):
        if entry.startswith(_REF_PREFIX):
            with open(os.path.join(tdir, entry)) as fh:
                out[entry[len(_REF_PREFIX) :]] = int(fh.read().strip())
    return out


def drop_tag(warehouse: str, table: str, name: str) -> None:
    """Remove a tag; its snapshot becomes reclaimable at the next
    vacuum unless otherwise retained."""
    path = os.path.join(warehouse, table, f"{_REF_PREFIX}{name}")
    _require(os.path.exists(path), f"{table}: no tag {name!r}")
    os.remove(path)


def read_table_tag(
    spark: SparkSession, warehouse: str, table: str, name: str
) -> DataFrame:
    """Snapshot read at a named tag (``VERSION AS OF`` resolved through
    the ref) — raises if the tag does not exist."""
    tags = list_tags(warehouse, table)
    _require(name in tags, f"{table}: no tag {name!r}")
    return read_table(spark, warehouse, table, version=tags[name])


def vacuum_table(
    warehouse: str,
    table: str,
    retain_versions: set[int] | None = None,
    retain_hours: float | None = None,
) -> list[str]:
    """Retention garbage collection — Delta ``VACUUM`` / Iceberg
    ``expire_snapshots`` on the manifest-versioned warehouse: drop every
    manifest version outside the retention set (the live version is
    always retained), then delete every part directory referenced by NO
    surviving manifest.  Retention is ``retain_versions`` (explicit
    pins) ∪ versions committed within the last ``retain_hours`` (Delta's
    ``RETAIN n HOURS``, resolved against each manifest's commit
    wall-clock; pre-timestamp manifests cannot prove their age and are
    conservatively RETAINED).  Time travel to any retained version keeps
    working because its part list survives intact; only parts that no
    retained snapshot can ever read are reclaimed.  Pure metadata + local
    FS work — no Spark job (at 100 TB: an object-store listing + delete
    batch driven by the manifest diff, never a data scan).

    Returns the sorted list of removed part names."""
    import shutil

    vs = _versions(warehouse, table)
    if not vs:
        return []
    # tags are GC roots (Iceberg expire_snapshots semantics)
    retained = (
        set(retain_versions or ())
        | {vs[-1]}
        | set(list_tags(warehouse, table).values())
    )
    if retain_hours is not None:
        horizon = time.time() - retain_hours * 3600.0
        for v in vs:
            ts = _read_manifest_file(warehouse, table, v)["ts"]
            if ts is None or ts >= horizon:
                retained.add(v)
    tdir = os.path.join(warehouse, table)
    for v in vs:
        if v not in retained:
            os.remove(os.path.join(tdir, f"{_MANIFEST_PREFIX}{v}"))
    referenced: set[str] = set()
    for v in sorted(retained & set(vs)):
        mv = _read_manifest_file(warehouse, table, v)
        referenced.update(mv["parts"])
        # deletion-vector sidecars referenced by a retained snapshot are
        # as load-bearing as its parts — reclaiming one would resurrect
        # deleted rows on that snapshot's reads; bloom sidecars likewise
        # (a missing one would fail that snapshot's prune planning)
        referenced.update(n for ns in mv["dv"].values() for n in ns)
        referenced.update(n for ns in mv["blooms"].values() for n in ns)
    removed: list[str] = []
    for entry in os.listdir(tdir):
        # "_"-prefixed entries are metadata and in-flight stagings
        # (manifests, commit temp files, WAP "_stage_*" parts pending
        # audit) — never data GC candidates, so a vacuum racing a
        # staged-but-unpublished commit cannot delete its parts
        if entry.startswith("_"):
            continue
        if entry not in referenced:
            shutil.rmtree(os.path.join(tdir, entry))
            removed.append(entry)
    return sorted(removed)


def q_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named refs (Iceberg TAGS) gate: batch 1 lands and is tagged
    ``release-v1``; batch 2 appends; a whole-table compaction makes the
    pre-compaction parts otherwise-garbage.  Then, with NO explicit
    retention pins, vacuum must reclaim exactly the part only the
    UNTAGGED intermediate snapshot referenced — the tagged v1 and the
    live head are GC roots — and the tag must still read its exact
    snapshot afterwards (the oracle: the batch-1 universe).  A second
    claim of the same tag name fails (tags are immutable,
    put-if-absent); dropping the tag and vacuuming again reclaims the
    batch-1 part, proving the tag was the only thing keeping it alive.
    This is the reproducible-training-run contract: pin a release by
    name, GC everything else, replay the release forever."""
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    w = tempfile.mkdtemp(prefix="spark_spotify_refs_")
    try:
        _commit_append(ev.filter(F.col("event_id") % 2 == 0), w, "t", 1)
        tag_version(w, "t", "release-v1")
        _commit_append(ev.filter(F.col("event_id") % 2 == 1), w, "t", 2)
        compact_table(spark, w, "t", "z")
        try:
            tag_version(w, "t", "release-v1")
            _require(False, "duplicate tag name was claimable")
        except FileExistsError:
            pass
        removed = vacuum_table(w, "t")
        _require(
            removed == ["p2"],
            f"vacuum reclaimed {removed}, expected exactly ['p2']",
        )
        out = read_table_tag(spark, w, "t", "release-v1").transform(
            stable_checkpoint
        )
        drop_tag(w, "t", "release-v1")
        removed2 = vacuum_table(w, "t")
        _require(
            removed2 == ["p1"],
            f"post-drop vacuum reclaimed {removed2}, expected ['p1']",
        )
        return out
    finally:
        shutil.rmtree(w, ignore_errors=True)


def restore_table(warehouse: str, table: str, to_version: int) -> int:
    """``RESTORE TABLE ... TO VERSION AS OF`` — Delta's undo verb: commit
    a NEW head whose entire content (part list, partition specs, column
    mapping, drops, file stats) is exactly the target version's.
    Metadata-only — zero part bytes move at any table size — and
    history-preserving: the restore is itself a commit, so the undone
    versions stay travel-able and a restore can itself be restored.  The
    re-referenced parts are vacuum-safe again because vacuum always
    retains the live head.  Raises if the target's parts were already
    vacuumed away (Delta fails identically once data files are gone)."""
    vs = _versions(warehouse, table)
    _require(
        to_version in vs, f"{table}: no committed version {to_version}"
    )
    m = _read_manifest_file(warehouse, table, to_version)
    tdir = os.path.join(warehouse, table)
    needed = (
        list(m["parts"])
        + [n for ns in m["dv"].values() for n in ns]
        + [n for ns in m["blooms"].values() for n in ns]
    )
    missing = [
        p for p in needed if not os.path.isdir(os.path.join(tdir, p))
    ]
    _require(
        not missing, f"{table}: restore target parts vacuumed: {missing}"
    )
    return _swing(
        warehouse,
        table,
        m["parts"],
        renames=m["renames"],
        specs=m["specs"],
        drops=m["drops"],
        stats=m["stats"],
        constraints=m["constraints"],
        generated=m["generated"],
        dv=m["dv"],
        schema=m["schema"],
        blooms=m["blooms"],
        row_base=m["row_base"],
    )


def _violation_filter(constraints: dict[str, str]) -> F.Column:
    """Rows for which ANY constraint evaluates to FALSE — SQL CHECK
    three-valued logic: TRUE and UNKNOWN (NULL) both satisfy, so a
    constraint on a nullable column rejects only provably-bad rows."""
    from functools import reduce

    return reduce(
        lambda a, b: a | b,
        [~F.coalesce(F.expr(e), F.lit(True)) for e in constraints.values()],
    )


def _apply_generated(
    delta: DataFrame, warehouse: str, table: str
) -> DataFrame:
    """Materialize the table's GENERATED columns on an incoming delta
    (Delta generated-column write semantics): a declared column the
    writer did not supply is computed from its expression; a supplied
    one is left as-is and VALIDATED against the expression by the same
    post-write scan that enforces CHECK constraints.  Expressions name
    logical columns."""
    cur = _current_version(warehouse, table)
    if not cur:
        return delta
    gen = _read_manifest_file(warehouse, table, cur)["generated"]
    for col, expr in gen.items():
        if col not in delta.columns:
            delta = delta.withColumn(col, F.expr(expr))
    return delta


def add_generated_column(
    spark: SparkSession, warehouse: str, table: str, name: str, expr: str
) -> int:
    """Declare ``name`` as a GENERATED column (``name = expr``) — the
    last piece of the Delta schema feature set next to CHECK constraints
    and column mapping.  The column must already exist PHYSICALLY in
    every committed row (Delta likewise only allows generated columns
    from table creation): declaring an absent column would leave mixed
    parts whose multi-path scan resolves the schema from an arbitrary
    footer, making the column's presence read-nondeterministic.  Every
    existing row is validated against the expression first (the same
    backfill contract as ADD CONSTRAINT); from this commit on, writes
    materialize the column when omitted and validate it when supplied.
    One metadata commit."""
    cur = _current_version(warehouse, table)
    _require(cur > 0, f"{table}: declare generated on an uncommitted table")
    m = _read_manifest_file(warehouse, table, cur)
    _require(
        name not in m["generated"],
        f"generated column {name!r} already declared",
    )
    df = read_table(spark, warehouse, table)
    _require(
        df is not None and name in df.columns,
        f"{table}: generated column {name!r} must exist physically "
        f"(write it in the creating commit)",
    )
    bad = df.filter(~F.col(name).eqNullSafe(F.expr(expr))).count()
    if bad:
        raise ConstraintViolationError(
            f"{table}: {bad} existing row(s) contradict generated "
            f"column {name!r} = ({expr})"
        )
    return _swing(
        warehouse,
        table,
        m["parts"],
        expected_version=cur,
        generated={**m["generated"], name: expr},
    )


def _enforce_constraints(
    spark: SparkSession, warehouse: str, table: str, part: str
) -> None:
    """CHECK enforcement at commit time: validate the just-written delta
    part against the table's constraints BEFORE the manifest swings — on
    violation the staged part directory is removed and
    :class:`ConstraintViolationError` raised, so a failed write leaves
    no trace (the WAP shape, fused into every commit).  Cost is one
    O(delta) scan, and ONLY when the table declares constraints;
    constraint expressions name LOGICAL columns, so the check applies
    the manifest's drops/renames to the raw part first.  DELETE commits
    skip enforcement by construction: removing rows cannot create a
    CHECK violation."""
    cur = _current_version(warehouse, table)
    if not cur:
        return
    m = _read_manifest_file(warehouse, table, cur)
    if not m["constraints"] and not m["generated"]:
        return
    df = read_parquet(spark, os.path.join(warehouse, table, part))
    if m["drops"]:
        df = df.drop(*m["drops"])
    for phys, logical in m["renames"].items():
        df = df.withColumnRenamed(phys, logical)
    # generated columns validate in the SAME scan: a writer-supplied
    # value must null-safe-equal its expression (Delta rejects the write
    # otherwise); `<=>` never yields UNKNOWN, so the CHECK three-valued
    # wrapper passes through exactly the contradictions
    checks = dict(m["constraints"])
    for col, e in m["generated"].items():
        if col in df.columns:
            checks[f"generated:{col}"] = f"{col} <=> ({e})"
    if not checks:
        return
    bad = df.filter(_violation_filter(checks)).count()
    if bad:
        import shutil

        shutil.rmtree(
            os.path.join(warehouse, table, part), ignore_errors=True
        )
        raise ConstraintViolationError(
            f"{table}/{part}: {bad} row(s) violate CHECK/generated "
            f"contracts {sorted(checks)}"
        )


def add_constraint(
    spark: SparkSession, warehouse: str, table: str, name: str, expr: str
) -> int:
    """``ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)`` — Delta
    semantics: every EXISTING row must already satisfy the constraint
    (one full-table validation scan, the same price Delta pays), then
    one metadata commit registers it; from that commit on, every
    append/COW-merge validates its delta before swinging the manifest.
    On violation the table is left untouched."""
    cur = _current_version(warehouse, table)
    _require(cur > 0, f"{table}: add constraint on an uncommitted table")
    m = _read_manifest_file(warehouse, table, cur)
    _require(
        name not in m["constraints"], f"constraint {name!r} already exists"
    )
    df = read_table(spark, warehouse, table)
    if df is not None:
        bad = df.filter(_violation_filter({name: expr})).count()
        if bad:
            raise ConstraintViolationError(
                f"{table}: {bad} existing row(s) violate {name!r} ({expr})"
            )
    return _swing(
        warehouse,
        table,
        m["parts"],
        expected_version=cur,
        constraints={**m["constraints"], name: expr},
    )


def drop_constraint(warehouse: str, table: str, name: str) -> int:
    """``ALTER TABLE ... DROP CONSTRAINT`` — one metadata commit."""
    cur = _current_version(warehouse, table)
    m = _read_manifest_file(warehouse, table, cur)
    _require(name in m["constraints"], f"no constraint {name!r}")
    cons = {k: v for k, v in m["constraints"].items() if k != name}
    return _swing(
        warehouse, table, m["parts"], expected_version=cur, constraints=cons
    )


def clone_table(
    warehouse: str,
    src: str,
    dst_warehouse: str,
    dst: str,
    version: int | None = None,
    deep: bool = False,
) -> int:
    """SHALLOW CLONE — Delta ``CREATE TABLE ... CLONE``: a new table
    whose v1 references the SOURCE's bytes with zero data copy (hard
    links per file here; path references in an object store), carrying
    the full schema state (column mapping, drops, specs, stats,
    constraints, generated columns) of the cloned version.  The clone
    is immediately independent: its writes land in its own directory
    (COW rewrites replace whole parts, appends add new ones), its
    VACUUM unlinks only its own links — the dev/test staging pattern
    that lets a pipeline rehearse a migration against production bytes
    without copying or endangering them."""
    import shutil

    vs = _versions(warehouse, src)
    _require(bool(vs), f"{src}: clone of an uncommitted table")
    v = vs[-1] if version is None else version
    m = _read_manifest_file(warehouse, src, v)
    sdir = os.path.join(warehouse, src)
    ddir = os.path.join(dst_warehouse, dst)
    _require(
        not _versions(dst_warehouse, dst),
        f"{dst}: clone target already has commits",
    )
    dv_names = sorted(
        {n for ns in m["dv"].values() for n in ns}
        | {n for ns in m["blooms"].values() for n in ns}
    )
    for p in list(m["parts"]) + dv_names:
        dst_p = os.path.join(ddir, p)
        _require(not os.path.exists(dst_p), f"clone target part {p}")
        shutil.copytree(
            os.path.join(sdir, p),
            dst_p,
            # shallow (default): zero-copy hard links; deep: real byte
            # copies whose lifetime is fully independent of the source
            # (Delta DEEP CLONE — the archival/DR copy)
            copy_function=shutil.copy2 if deep else os.link,
        )
    return _swing(
        dst_warehouse,
        dst,
        m["parts"],
        renames=m["renames"],
        specs=m["specs"],
        drops=m["drops"],
        stats=m["stats"],
        constraints=m["constraints"],
        generated=m["generated"],
        dv=m["dv"],
        schema=m["schema"],
        blooms=m["blooms"],
        row_base=m["row_base"],
        row_hwm_min=m["row_hwm"],
    )


def q_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow-clone gate — the rehearsal drill: clone the fact table
    (zero data copy — the clone's files share inodes with the source,
    gate-proven), run the destructive GDPR delete against the CLONE,
    and require the SOURCE's bytes and row count untouched.  Returns
    the mutated clone; oracle = the star join minus the deleted
    subject, identical to a delete on a real table — a clone must be
    indistinguishable from a copy, just free."""
    import shutil
    import tempfile

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_clo_")
    try:
        clone_table(warehouse, "fact", cw, "fact")
        # zero-copy proof: same inode, no bytes duplicated
        src_f = sorted(
            f
            for f in os.listdir(os.path.join(warehouse, "fact", parts[0]))
            if f.endswith(".parquet")
        )[0]
        a = os.stat(os.path.join(warehouse, "fact", parts[0], src_f))
        b = os.stat(os.path.join(cw, "fact", parts[0], src_f))
        _require(a.st_ino == b.st_ino, "clone must share source inodes")
        n_src = read_table(spark, warehouse, "fact").count()
        delete_rows(
            spark, cw, "fact", F.col("user_id") == DELETE_USER, "cl1"
        )
        _require(
            read_table(spark, warehouse, "fact").count() == n_src,
            "mutating the clone must not touch the source",
        )
        return read_table(spark, cw, "fact").transform(stable_checkpoint)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def q_clone_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEEP-CLONE gate — the archival / disaster-recovery copy, the
    inverse contract of ``etl_clone``: the clone's bytes must be fully
    INDEPENDENT of the source.  Proven both ways: (1) no clone file
    shares an inode with its source twin (real copies, where the
    shallow gate requires equality); (2) the source table is then
    physically DESTROYED — every part directory removed, the disaster
    the deep copy exists for — and the clone still reads its exact
    snapshot, carrying the source's full schema state.  Oracle: the
    cloned universe recomputed from scratch."""
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    w = tempfile.mkdtemp(prefix="spark_spotify_dclo_")
    try:
        _commit_append(ev.filter(F.col("event_id") % 2 == 0), w, "t", 1)
        _commit_append(ev.filter(F.col("event_id") % 2 == 1), w, "t", 2)
        clone_table(w, "t", w, "t_archive", deep=True)
        sdir, ddir = os.path.join(w, "t"), os.path.join(w, "t_archive")
        for p in _manifest(w, "t") or []:
            for f in os.listdir(os.path.join(sdir, p)):
                if f.endswith(".parquet"):
                    _require(
                        os.stat(os.path.join(sdir, p, f)).st_ino
                        != os.stat(os.path.join(ddir, p, f)).st_ino,
                        "deep clone shares source inodes",
                    )
        # the disaster: the source's data is physically destroyed
        for p in _manifest(w, "t") or []:
            shutil.rmtree(os.path.join(sdir, p))
        return read_table(spark, w, "t_archive").transform(
            stable_checkpoint
        )
    finally:
        shutil.rmtree(w, ignore_errors=True)


def q_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE gate — the bad-deploy undo drill every versioned
    warehouse runs eventually: v2 = the full two-batch fact table, v3 =
    a destructive DELETE (the incident), v4 = ``restore_table`` back to
    v2 (one manifest write, no data I/O), then VACUUM — which must
    reclaim exactly the incident's rewrite parts (orphaned by the
    restore) while the restored head keeps reading the original bytes.

    Oracle: the unchanged single-shot star join — a restore after a
    delete must be byte-equivalent to the delete never happening."""
    import shutil
    import tempfile

    warehouse, v1 = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_res_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", list(v1))  # v1: batch-1 snapshot
        _swing(cw, "fact", parts)  # v2: the full table
        n_affected = delete_rows(  # v3: the incident
            spark, cw, "fact", F.col("user_id") == DELETE_USER, "r1"
        )
        _require(n_affected > 0, "incident delete touched nothing")
        v4 = restore_table(cw, "fact", 2)
        _require(v4 == 4, f"restore committed v{v4}, expected v4")
        _require(
            _manifest(cw, "fact") == parts,
            "restored head must reference exactly the v2 parts",
        )
        removed = vacuum_table(cw, "fact")
        _require(
            bool(removed)
            and all(r not in set(parts) for r in removed),
            f"vacuum must reclaim only the incident's rewrites: {removed}",
        )
        return read_table(spark, cw, "fact").transform(stable_checkpoint)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def q_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints end to end — the write-time data contract every
    warehouse ingest needs: batch 1 commits, ``ADD CONSTRAINT`` validates
    ALL existing rows before registering (an impossible constraint is
    rejected by the backfill scan, table untouched), a poisoned batch
    (negative values + a NULL key) is rejected AT COMMIT — manifest
    version unchanged, staged part directory removed, no trace — and the
    clean batch 2 then commits under the same constraints.  Enforcement
    is one O(delta) scan per constrained commit; unconstrained tables
    pay nothing.

    Oracle: the per-event-type rollup of the full corpus — exactly the
    two admitted batches, the rejected one invisible."""
    import shutil
    import tempfile

    from spark_spotify.functions.agg import lsum

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    w = tempfile.mkdtemp(prefix="spark_spotify_con_")
    try:
        _commit_append(ev.filter(F.col("event_id") % 2 == 0), w, "t", 1)
        add_constraint(spark, w, "t", "pk_not_null", "event_id IS NOT NULL")
        add_constraint(spark, w, "t", "value_floor", "value >= 0")
        try:
            add_constraint(spark, w, "t", "impossible", "value < 0")
            _require(False, "backfill check must reject a false constraint")
        except ConstraintViolationError:
            pass
        v_before = _current_version(w, "t")
        poison = (
            ev.filter(F.col("event_id") % 2 == 1)
            .limit(100)
            .withColumn("value", F.lit(-1.0))
            .unionByName(
                ev.limit(1).withColumn(
                    "event_id", F.lit(None).cast("long")
                )
            )
        )
        try:
            _commit_append(poison, w, "t", 98)
            _require(False, "poisoned append must be rejected")
        except ConstraintViolationError:
            pass
        _require(
            _current_version(w, "t") == v_before,
            "failed write must not move the table",
        )
        _require(
            not os.path.exists(os.path.join(w, "t", "p98")),
            "rejected staging must be removed",
        )
        _commit_append(ev.filter(F.col("event_id") % 2 == 1), w, "t", 2)
        out = (
            read_table(spark, w, "t")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                lsum(F.col("value")).alias("total_value"),
            )
        )
        return out.transform(stable_checkpoint)
    finally:
        shutil.rmtree(w, ignore_errors=True)


def q_txn_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table transaction gate — the torn-batch drill: batch 2
    must move the fact table (append) AND its gold rollup (COW replace)
    together.  The staged parts land, the durable intent is recorded,
    the fact swing applies — and the process "crashes" before the gold
    swing.  ``recover_transactions`` must roll the intent FORWARD:
    detect the fact table's already-applied swing idempotently, commit
    the gold replacement, retire the intent — leaving the warehouse
    exactly as if the crash never happened.

    Oracle: the gold rollup over the FULL corpus — a torn state (batch-2
    facts with batch-1 gold) would fail the hash."""
    import json
    import shutil
    import tempfile

    from spark_spotify.functions.agg import lsum

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            lsum(F.col("value")).alias("total_value"),
        )

    w = tempfile.mkdtemp(prefix="spark_spotify_txn_")
    try:
        even = ev.filter(F.col("event_id") % 2 == 0)
        _commit_append(even, w, "f", 1)
        _commit(rollup(even), w, "s", 1)
        # stage batch 2: fact delta part + replacement gold snapshot
        ev.filter(F.col("event_id") % 2 == 1).coalesce(
            APPEND_WRITE_FILES
        ).write.parquet(os.path.join(w, "f", "p2"))
        rollup(ev).coalesce(COW_WRITE_FILES).write.parquet(
            os.path.join(w, "s", "v2")
        )
        # durable intent, then CRASH after only the fact swing applied
        tx = {
            "f": {"base": 1, "added": ["p2"], "removed": []},
            "s": {"base": 1, "added": ["v2"], "removed": ["v1"]},
        }
        os.makedirs(os.path.join(w, _TXN_DIR))
        with open(os.path.join(w, _TXN_DIR, "b2.json"), "w") as fh:
            json.dump(tx, fh)
        swing_rebase(w, "f", 1, ["p2"], set())
        _require(
            _manifest(w, "s") == ["v1"],
            "gold must still be torn before recovery",
        )
        done = recover_transactions(w)
        _require(done == ["b2"], f"recovered {done}, expected ['b2']")
        _require(
            _manifest(w, "f") == ["p1", "p2"]
            and _manifest(w, "s") == ["v2"],
            "roll-forward must complete both tables",
        )
        _require(
            recover_transactions(w) == [],
            "retired intents must not replay",
        )
        return read_table(spark, w, "s").transform(stable_checkpoint)
    finally:
        shutil.rmtree(w, ignore_errors=True)


def q_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED columns end to end — the derived-partition-key verb
    (Delta ``GENERATED ALWAYS AS``): batch 1 commits WITH ``event_date``
    computed by the writer, the column is then DECLARED generated (the
    declaration backfill-validates every existing row; a contradictory
    declaration is rejected with the table untouched), batch 2 appends
    WITHOUT the column and the write materializes it, and a poisoned
    batch that supplies WRONG values for the generated column is
    rejected at commit with no trace.  The generated values feed the
    same manifest stats as any column, so date pruning works on a
    column no writer ever has to compute again.

    Oracle: the full corpus with event_date stated as CAST(ts AS DATE)
    — exactly what every admitted path must have materialized."""
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "ts"
    )
    w = tempfile.mkdtemp(prefix="spark_spotify_gen_")
    try:
        b1 = ev.filter(F.col("event_id") % 2 == 0)
        _commit_append(
            b1.withColumn("event_date", F.to_date("ts")), w, "t", 1
        )
        try:
            add_generated_column(
                spark, w, "t", "event_date", "date_add(to_date(ts), 1)"
            )
            _require(False, "contradictory declaration must be rejected")
        except ConstraintViolationError:
            pass
        add_generated_column(spark, w, "t", "event_date", "to_date(ts)")
        v_before = _current_version(w, "t")
        poison = (
            ev.filter(F.col("event_id") % 2 == 1)
            .limit(50)
            .withColumn("event_date", F.to_date(F.lit("1999-01-01")))
        )
        try:
            _commit_append(poison, w, "t", 98)
            _require(False, "wrong generated values must be rejected")
        except ConstraintViolationError:
            pass
        _require(
            _current_version(w, "t") == v_before
            and not os.path.exists(os.path.join(w, "t", "p98")),
            "rejected write must leave no trace",
        )
        # batch 2 omits the column entirely — the write materializes it
        _commit_append(ev.filter(F.col("event_id") % 2 == 1), w, "t", 2)
        out = read_table(spark, w, "t")
        _require("event_date" in out.columns, "generated column missing")
        return out.select(
            "event_id", "user_id", "value", "event_date"
        ).transform(stable_checkpoint)
    finally:
        shutil.rmtree(w, ignore_errors=True)


# lossless numeric promotions, by Spark typeName — the Delta
# type-widening allowlist (narrowing or cross-family changes rewrite
# data and are refused)
_TYPE_WIDENINGS = {
    ("byte", "short"),
    ("byte", "integer"),
    ("byte", "long"),
    ("short", "integer"),
    ("short", "long"),
    ("integer", "long"),
    ("byte", "double"),
    ("short", "double"),
    ("integer", "double"),
    ("float", "double"),
}


def widen_column(
    spark: SparkSession, warehouse: str, table: str, name: str, new_type: str
) -> int:
    """``ALTER COLUMN ... TYPE`` widening (Delta type widening) — a
    METADATA-ONLY commit: the widened type lands in the table-owned
    manifest schema; existing part bytes keep their narrow physical
    encoding and every scan planned from that schema UPCASTS them in
    the parquet reader (int32 read as long/double — the same reader
    promotion Delta relies on), so history is never rewritten at any
    table size and later appends may write the wide type directly.
    Only lossless numeric promotions are allowed (``_TYPE_WIDENINGS``);
    narrowing would silently corrupt reads and is refused.  ``name`` is
    the PHYSICAL column name (rename mapping applies on read, above
    this layer).  Returns the committed version."""
    import json as _json

    from pyspark.sql.types import StructField, StructType

    cur = _current_version(warehouse, table)
    _require(cur > 0, f"{table}: widen on an uncommitted table")
    m = _read_manifest_file(warehouse, table, cur)
    if m["schema"] is not None:
        struct = StructType.fromJson(_json.loads(m["schema"]))
    else:
        _require(bool(m["parts"]), f"{table}: widen on an empty table")
        struct = _read_parts(
            spark, warehouse, table, m["parts"][:1], m["specs"]
        ).schema
    names = [f.name for f in struct.fields]
    _require(name in names, f"{table}: no physical column {name!r}")
    old_f = struct.fields[names.index(name)]
    new_dt = spark.createDataFrame([], f"x {new_type}").schema.fields[0].dataType
    pair = (old_f.dataType.typeName(), new_dt.typeName())
    _require(
        pair in _TYPE_WIDENINGS,
        f"{table}: {pair[0]} -> {pair[1]} is not a lossless widening",
    )
    fields = [
        StructField(f.name, new_dt if f.name == name else f.dataType,
                    f.nullable, f.metadata)
        for f in struct.fields
    ]
    return _swing(
        warehouse, table, m["parts"], schema=StructType(fields).json()
    )


def rename_column(warehouse: str, table: str, old: str, new: str) -> int:
    """Metadata-only column RENAME — Delta column-mapping semantics: the
    part files keep their physical column name forever; the manifest
    carries ``{physical: logical}`` and the read path translates.  The
    commit writes ONE manifest file (CAS-guarded against concurrent
    commits), zero data bytes; time travel to a pre-rename version shows
    the old name because the mapping is versioned with the manifest."""
    cur = _current_version(warehouse, table)
    _require(cur > 0, f"{table}: rename on an empty table")
    m = _read_manifest_file(warehouse, table, cur)
    renames = dict(m["renames"])
    # `old` may itself be a logical name from an earlier rename — chase it
    # back to the on-disk physical name so mappings never chain
    phys = next((p for p, lg in renames.items() if lg == old), old)
    _require(
        phys not in m["drops"], f"{table}: rename of dropped column {old!r}"
    )
    renames[phys] = new
    return _swing(
        warehouse, table, m["parts"], renames=renames, expected_version=cur
    )


def drop_column(warehouse: str, table: str, name: str) -> int:
    """Metadata-only DROP COLUMN — the other half of Delta column
    mapping (rename_column being the first): the physical column stays
    in every part's bytes forever (until a rewrite such as
    ``compact_table`` naturally ages it out), the manifest records the
    physical name in ``drops``, and the read path projects it out.  The
    commit writes ONE manifest file (CAS-guarded), zero data bytes;
    time travel to a pre-drop version still shows the column because
    the drop list is versioned with the manifest.  ``name`` may be a
    logical name from an earlier rename — it is resolved to the
    physical name, and its mapping entry is retired with it."""
    cur = _current_version(warehouse, table)
    _require(cur > 0, f"{table}: drop on an empty table")
    m = _read_manifest_file(warehouse, table, cur)
    renames = dict(m["renames"])
    phys = next((p for p, lg in renames.items() if lg == name), name)
    _require(
        phys not in m["drops"], f"{table}: column {name!r} already dropped"
    )
    renames.pop(phys, None)
    return _swing(
        warehouse,
        table,
        m["parts"],
        renames=renames,
        expected_version=cur,
        drops=m["drops"] + [phys],
    )


def q_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction gate: hard-link the shared warehouse's fact parts into
    an isolated table dir (zero data copy — the shared warehouse's own
    manifests stay untouched for the CDC/time-travel gates), run the
    rewrite commit, and return the compacted table — which must be
    row-identical to the pre-compaction table, so the oracle is the same
    single-shot star join."""
    import shutil
    import tempfile

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_compact_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", parts)
        compact_table(spark, cw, "fact", "1")
        after = _manifest(cw, "fact")
        _require(after == ["c1"], after)
        return read_table(spark, cw, "fact").transform(stable_checkpoint)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution — Delta/Iceberg ADD COLUMN semantics on
    the manifest-versioned warehouse: a later commit's part carries a new
    column (``ingest_source``), earlier parts are untouched on disk, and
    the unified read (parquet ``mergeSchema``) surfaces NULL for
    pre-evolution rows.  No rewrite of history, no migration job — the
    new column costs exactly one part's worth of bytes.

    Mechanics: the shared warehouse's batch-1 parts are hard-linked into
    an isolated table dir (zero copy); the batch-2 delta is rewritten
    once WITH the new column as the evolution commit; the manifest then
    names a mixed-schema part list, which is the steady state a 100 TB
    table lives in forever (rewriting history per column add is a
    non-starter).  Oracle: the star join plus a CASE on the batch cut."""
    import shutil
    import tempfile

    warehouse, v1 = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    new_parts = [p for p in parts if p not in set(v1)]
    cw = tempfile.mkdtemp(prefix="spark_spotify_evo_")
    try:
        os.makedirs(os.path.join(cw, "fact"))
        _link_fact_into(warehouse, list(v1), cw)
        manifest = list(v1)
        if new_parts:
            delta = read_parquet(
                spark,
                *[os.path.join(warehouse, "fact", p) for p in new_parts],
            ).withColumn("ingest_source", F.lit("batch2"))
            delta.coalesce(APPEND_WRITE_FILES).write.mode(
                "overwrite"
            ).parquet(os.path.join(cw, "fact", "evo1"))
            manifest.append("evo1")
        _swing(cw, "fact", manifest)
        out = (
            spark.read.option("mergeSchema", "true")
            .parquet(*[os.path.join(cw, "fact", p) for p in manifest])
        )
        if not new_parts:
            out = out.withColumn(
                "ingest_source", F.lit(None).cast("string")
            )
        return stable_checkpoint(out)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def q_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-tracking gate (Delta row ids / row lineage): enable tracking
    on a two-part table, COW-delete one subject (materializes ids for
    the affected part), then compact the WHOLE table (rewrites every
    byte) — and every surviving row must still carry its original
    stable id.  The gate emits ``id_stable`` per row (before-vs-after
    join) and asserts id uniqueness in-line; the oracle is the source
    minus the deleted subject with ``TRUE`` — any drifted id fails the
    hash."""
    import shutil
    import tempfile

    from spark_spotify.functions.concurrency import overlap

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    w = tempfile.mkdtemp(prefix="spark_spotify_rowtrack_")
    try:
        # the two seed appends are disjoint row sets landing as separate
        # parts; swing_rebase's append∥append auto-rebase makes the
        # concurrent commits safe, and the table state (two parts, all
        # rows) is identical either way — overlapped (§2.6)
        overlap(
            lambda: _commit_append(
                ev.filter(F.col("event_id") % 2 == 0), w, "t", 1
            ),
            lambda: _commit_append(
                ev.filter(F.col("event_id") % 2 == 1), w, "t", 2
            ),
        )
        enable_row_tracking(w, "t")
        before = read_table_with_row_ids(spark, w, "t").select(
            "event_id", F.col("row_id").alias("rid_before")
        )
        before = stable_checkpoint(before)
        delete_rows(
            spark, w, "t", F.col("user_id") == DELETE_USER, "d1"
        )
        compact_table(spark, w, "t", "z")
        after = read_table_with_row_ids(spark, w, "t")
        out = after.join(before, "event_id").select(
            "event_id",
            "user_id",
            "value",
            (F.col("rid_before") == F.col("row_id")).alias("id_stable"),
        )
        # ONE aggregation job covers what two sequential counts proved
        # (§1.2: n and distinct-n ride the same scan), and it overlaps
        # with the output materialization — both read the compacted
        # table snapshot read-only (§2.6)
        uniq_row, out = overlap(
            lambda: after.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.col("row_id")).alias("nd"),
            ).collect()[0],
            lambda: stable_checkpoint(out),
        )
        _require(
            uniq_row["nd"] == uniq_row["n"],
            "row ids must stay unique through rewrites",
        )
        return out
    finally:
        shutil.rmtree(w, ignore_errors=True)


IN_LIST_IDS = (100, 900)  # deterministic IN-list subjects for the gate

# the skipping gates share ONE six-part sextile layout per
# (session, sf_dir) — the build is a single scan (partitioned staging
# write + renames, one manifest commit), and whichever gate runs first
# proves the pre-index state and adds the bloom (idempotent)
_BLOOM_GATE_CACHE: dict = {}


def _bloom_gate_table(spark: SparkSession, sf_dir: str):
    """Six RANGE-DISJOINT parts (event_id sextiles) of (event_id,
    value, md5 tag) — range stats prune the id column, only a bloom can
    prune the hash column.  Returns (warehouse, max event_id)."""
    import atexit
    import shutil
    import tempfile

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _BLOOM_GATE_CACHE:
        w, mx = _BLOOM_GATE_CACHE[key]
        os.utime(w)  # keep the orphan sweep off a live session cache
        return w, mx
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    mx = ev.agg(F.max("event_id")).collect()[0][0]
    w = tempfile.mkdtemp(prefix="spark_spotify_bloomg_")
    atexit.register(shutil.rmtree, w, ignore_errors=True)
    t = ev.withColumn(
        "tag", F.md5(F.col("event_id").cast("string"))
    ).withColumn(
        "b", F.floor(F.col("event_id") * 6 / (mx + 1)).cast("int")
    )
    stage = os.path.join(w, "_stage")
    t.repartition("b").write.partitionBy("b").parquet(stage)
    tdir = os.path.join(w, "t")
    os.makedirs(tdir)
    parts = []
    for k in range(6):
        src = os.path.join(stage, f"b={k}")
        _require(os.path.isdir(src), f"empty sextile bucket {k}")
        os.rename(src, os.path.join(tdir, f"p{k + 1}"))
        parts.append(f"p{k + 1}")
    _swing(w, "t", parts)
    _BLOOM_GATE_CACHE[key] = (w, mx)
    return w, mx


def _ensure_tag_bloom(spark: SparkSession, w: str, probe_val: str) -> None:
    """First caller proves the pre-index state (min/max stats keep all
    six parts for an md5 point lookup) and builds the bloom; later
    callers see it committed."""
    m = _read_manifest_file(w, "t", _current_version(w, "t"))
    if "tag" in m["blooms"]:
        return
    kept, _ = prune_parts(w, "t", [("tag", "=", probe_val)])
    _require(len(kept) == 6, "md5 ranges must defeat min/max")
    add_bloom_index(spark, w, "t", "tag", "1")


def q_in_list_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list file skipping over BOTH pruning indexes: six range-
    disjoint parts (event_id sextiles), so the id IN-list prunes via
    min/max STATS to exactly the buckets holding the ids; then the same
    lookup through the md5 key column, where stats are useless (every
    part spans the hex range — asserted pre-index) and the BLOOM index
    must prune to the same parts (false positives tolerated: they cost
    a scan, never a row).  Oracle: the plain IN-list select."""
    import hashlib

    w, mx = _bloom_gate_table(spark, sf_dir)
    want = sorted({f"p{i * 6 // (mx + 1) + 1}" for i in IN_LIST_IDS})
    kept, _ = prune_parts(
        w, "t", [("event_id", "in", list(IN_LIST_IDS))]
    )
    _require(
        kept == want, f"stats IN-pruning kept {kept}, want {want}"
    )
    tags = [
        hashlib.md5(str(i).encode()).hexdigest() for i in IN_LIST_IDS
    ]
    _ensure_tag_bloom(spark, w, tags[0])
    kept, _ = prune_parts(w, "t", [("tag", "in", tags)])
    _require(
        set(want) <= set(kept) and len(kept) <= len(want) + 1,
        f"bloom IN-pruning kept {kept}, want ⊇ {want}",
    )
    out = read_table_where(
        spark, w, "t", [("event_id", "in", list(IN_LIST_IDS))]
    )
    return stable_checkpoint(out)


def q_cdf_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed over a merge-on-read delete — the integration a CDC
    consumer depends on: a DV commit moves NO part bytes, yet the
    version-to-version change feed must still surface exactly the
    vectorized rows as ``delete`` changes (the read path, not the file
    layout, defines the snapshot).  Oracle: the erased subject's star
    rows tagged 'delete'."""
    import shutil
    import tempfile

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_cdfmor_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", parts)
        n = delete_rows(
            spark,
            cw,
            "fact",
            F.col("user_id") == DELETE_USER,
            "g1",
            mode="mor",
        )
        _require(n > 0, "MOR delete matched no parts")
        feed = change_feed(
            read_table(spark, cw, "fact", version=1),
            read_table(spark, cw, "fact", version=2),
            "event_id",
        )
        return stable_checkpoint(feed)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


BLOOM_POINT_ID = 100  # deterministic point-lookup subject for the gate


def q_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-index skipping gate — the point lookup min/max stats can
    NEVER serve: six parts whose md5 key column spans essentially the
    full string range in every part (asserted by a pre-index prune
    keeping all six), then a bloom index build and an equality lookup.
    ``prune_parts`` must keep the one part holding the key (false
    positives tolerated: a scan, never a row) — planning I/O is one
    positions-filtered sidecar read, no Spark job — and the pruned read
    returns the row.  Oracle: the same md5 point select stated in
    SQL."""
    import hashlib

    w, mx = _bloom_gate_table(spark, sf_dir)
    val = hashlib.md5(str(BLOOM_POINT_ID).encode()).hexdigest()
    _ensure_tag_bloom(spark, w, val)
    kept, _ = prune_parts(w, "t", [("tag", "=", val)])
    want = f"p{BLOOM_POINT_ID * 6 // (mx + 1) + 1}"
    _require(
        want in kept and len(kept) <= 2,
        f"bloom must prune to ~the key's part {want}: {kept}",
    )
    out = read_table_where(spark, w, "t", [("tag", "=", val)])
    return stable_checkpoint(out)


def q_bloom_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom auto-maintenance gate — an indexed table that CHURNS: a
    COW delete rewrites the key part, two appends land uncovered, an
    OPTIMIZE folds them.  Coverage must follow the data with zero
    manual rebuilds: the delete's and OPTIMIZE's outputs are covered
    inside their own commits (proven by point lookups on an ERASED key
    — only a covered part can be pruned away), appends stay
    conservatively un-pruned until OPTIMIZE tops them up, and at close
    every live part is covered — a structural manifest check, not a
    probabilistic probe.  (Compaction's same-commit coverage rebuild is
    unit-tested in tests/test_skipping.py.)  Oracle: the churned
    table's state restated in SQL, probed by two point lookups."""
    import hashlib
    import shutil
    import tempfile

    w, mx = _bloom_gate_table(spark, sf_dir)
    tag100 = hashlib.md5(str(BLOOM_POINT_ID).encode()).hexdigest()
    _ensure_tag_bloom(spark, w, tag100)
    m0 = _read_manifest_file(w, "t", _current_version(w, "t"))
    cw = tempfile.mkdtemp(prefix="spark_spotify_bloomm_")
    try:
        # hard-link parts AND the existing sidecar into an isolated
        # table (zero data copy; the shared cache stays immutable)
        names = {n for ns in m0["blooms"].values() for n in ns}
        for p in list(m0["parts"]) + sorted(names):
            src, dst = os.path.join(w, "t", p), os.path.join(cw, "t", p)
            os.makedirs(dst)
            for f in os.listdir(src):
                os.link(os.path.join(src, f), os.path.join(dst, f))
        _swing(cw, "t", m0["parts"], blooms=m0["blooms"])
        tag3 = hashlib.md5(b"3").hexdigest()

        # 1. COW delete erases ids {3, 9} (both in p1, like id 100):
        # the rewrite dd1 must be covered IN ITS OWN COMMIT — an
        # erased-key lookup can prune it away, which only coverage allows
        delete_rows(
            spark, cw, "t", F.col("event_id").isin(3, 9), "d1"
        )
        kept, _ = prune_parts(cw, "t", [("tag", "=", tag3)])
        _require(
            "dd1" not in kept and len(kept) <= 1,
            f"delete rewrite not auto-covered: erased-key probe kept {kept}",
        )
        kept, _ = prune_parts(cw, "t", [("tag", "=", tag100)])
        _require(
            "dd1" in kept and len(kept) <= 2,
            f"surviving key must stay findable in the rewrite: {kept}",
        )

        # 2. two appends land UNCOVERED: conservative (kept on any
        # probe) until maintenance, never false-pruned.  Built from the
        # source file (ids 10..29 are untouched by the delete), not a
        # 7-part table scan per wave.
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "value"
        )
        for i, part in enumerate(("p7", "p8")):
            lo, hi = 10 + 10 * i, 20 + 10 * i
            app = (
                ev.filter(
                    (F.col("event_id") >= lo) & (F.col("event_id") < hi)
                )
                .select(
                    (F.col("event_id") + mx + 1).alias("event_id"),
                    "value",
                )
                .withColumn("tag", F.md5(F.col("event_id").cast("string")))
            )
            b2 = _current_version(cw, "t")
            app.coalesce(1).write.parquet(os.path.join(cw, "t", part))
            swing_rebase(cw, "t", b2, [part])
        m_now = _read_manifest_file(cw, "t", _current_version(cw, "t"))
        _require(
            not ({"p7", "p8"} & _bloom_covered(cw, "t", m_now, "tag")),
            "appends must land uncovered (maintenance is a rewrite/"
            "OPTIMIZE concern, not an append tax)",
        )
        # the erased-key probe may keep the appends (uncovered — the
        # bloom can never prune them; min/max stats still may, which is
        # the other index doing its job) but every covered part must go
        kept, _ = prune_parts(cw, "t", [("tag", "=", tag3)])
        _require(
            len(set(kept) - {"p7", "p8"}) <= 1,
            f"covered parts survived an erased-key probe: {kept}",
        )

        # 3. OPTIMIZE folds the small appends and tops coverage up in
        # the same commit
        sizes = {}
        for p in _manifest(cw, "t") or []:
            sizes[p] = sum(
                os.path.getsize(os.path.join(cw, "t", p, f))
                for f in os.listdir(os.path.join(cw, "t", p))
                if f.endswith(".parquet")
            )
        target = min(v for p, v in sizes.items() if p not in ("p7", "p8"))
        _require(
            max(sizes["p7"], sizes["p8"]) < target,
            "append parts must be the small ones",
        )
        n_folded = optimize_table(spark, cw, "t", target, tag="g1")
        _require(n_folded == 2, f"optimize folded {n_folded}, want 2")
        taga = hashlib.md5(str(mx + 11).encode()).hexdigest()
        kept, _ = prune_parts(cw, "t", [("tag", "=", tag3)])
        _require(
            not {"og1", "p7", "p8", "dd1"} & set(kept) and len(kept) <= 1,
            f"optimize output not auto-covered: {kept}",
        )
        kept, _ = prune_parts(cw, "t", [("tag", "=", taga)])
        _require(
            "og1" in kept and len(kept) <= 2,
            f"appended key must be findable in the fold: {kept}",
        )

        # 4. structural close: every live part is now covered — the
        # manifest, not a probabilistic probe, carries the proof.
        # (Whole-table compaction rebuilding coverage in its own commit
        # is unit-tested in tests/test_skipping.py — repeating the two
        # full-table scans here would only re-buy the same evidence.)
        m = _read_manifest_file(cw, "t", _current_version(cw, "t"))
        _require(
            _bloom_covered(cw, "t", m, "tag") >= set(m["parts"]),
            "maintenance must leave every live part covered",
        )
        out = read_table_where(
            spark, cw, "t", [("tag", "in", [tag100, taga])]
        )
        return stable_checkpoint(out)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def q_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-widening gate (Delta ``ALTER COLUMN ... TYPE``): batch 1
    commits ``event_id`` as a 32-bit INT; the column is widened to
    BIGINT by a metadata-only commit (part bytes inode-untouched,
    gate-proven); batch 2 then appends ids ABOVE the int32 range —
    impossible under the old type — and the unified read upcasts the
    narrow part in the scan.  Time travel to the pre-widen version
    still reads the original INT schema.  Oracle: the same union with
    the cast stated in SQL."""
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    w = tempfile.mkdtemp(prefix="spark_spotify_widen_")
    try:
        b1 = ev.filter(F.col("event_id") % 2 == 0).withColumn(
            "event_id", F.col("event_id").cast("int")
        )
        _commit_append(b1, w, "t", 1)
        tdir = os.path.join(w, "t")
        inos = {
            f: os.stat(os.path.join(tdir, "p1", f)).st_ino
            for f in os.listdir(os.path.join(tdir, "p1"))
            if f.endswith(".parquet")
        }
        widen_column(spark, w, "t", "event_id", "bigint")
        _require(
            inos
            == {
                f: os.stat(os.path.join(tdir, "p1", f)).st_ino
                for f in os.listdir(os.path.join(tdir, "p1"))
                if f.endswith(".parquet")
            },
            "widening must be metadata-only",
        )
        b2 = ev.filter(F.col("event_id") % 2 == 1).withColumn(
            "event_id", F.col("event_id") + F.lit(4_000_000_000)
        )
        _commit_append(b2, w, "t", 2)
        out = read_table(spark, w, "t")
        _require(
            dict(out.dtypes)["event_id"] == "bigint",
            "unified read must surface the widened type",
        )
        # the pre-widen snapshot still reads its own narrow schema
        _require(
            dict(read_table(spark, w, "t", version=1).dtypes)["event_id"]
            == "int",
            "time travel must keep the pre-widen type",
        )
        return stable_checkpoint(out)
    finally:
        shutil.rmtree(w, ignore_errors=True)


DELETE_USER = 7  # deterministic GDPR-delete subject for the gate


def delete_rows(
    spark: SparkSession,
    warehouse: str,
    table: str,
    predicate,
    tag: str,
    mode: str = "cow",
) -> int:
    """Row-level DELETE — the Delta/Iceberg delete commit, the GDPR /
    right-to-be-forgotten primitive a training-data store must support,
    in both physical strategies:

    - ``mode="cow"`` (copy-on-write, the default): parts that contain
      matching rows are rewritten WITHOUT them (new immutable parts),
      untouched parts keep their bytes, and the manifest swings
      atomically to the mixed old/new list.  Write cost is O(affected
      parts), never a table rewrite.
    - ``mode="mor"`` (merge-on-read, Delta deletion vectors): NO part is
      rewritten — the matching rows' physical positions (relative file
      path, ``_metadata.row_index``) are written to an O(deleted rows)
      sidecar and the manifest attaches it to the affected parts; the
      read path anti-filters it.  A 1-row delete in a 1 GB part writes
      bytes proportional to ONE ROW, and two writers deleting different
      rows of the SAME part both commit (row-level rebase — deletion is
      monotone, so the union of their vectors is consistent with either
      serial order).  ``compact_table`` / ``optimize_table`` later
      materialize vectors away (Delta ``REORG ... APPLY (PURGE)``).

    ``predicate`` is a Column selecting rows to DELETE.  Returns the
    number of affected parts.

    Exactly TWO Spark jobs regardless of part count (the shape that
    survives ~800K parts at 100 TB, where a per-part driver loop would
    mean 800K sequential job launches):

    1. **Discovery** — one scan of the whole table tagging matches with
       ``input_file_name()`` and collecting the DISTINCT affected file
       set (metadata-sized: bounded by part count, not rows).  At 100 TB
       this scan is itself skipped for provably-clean parts by parquet
       footer min/max pruning when the predicate is scan-pushable —
       Catalyst already prunes row groups here via PushedFilters; a
       partition-keyed delete short-circuits to pure manifest surgery.
    2. **Rewrite** — ONE parallel job reading only the affected parts and
       writing the surviving rows as a single new part; unaffected parts
       keep their bytes and their manifest entries.

    NULL semantics: a row whose predicate evaluates to NULL is NOT a
    match (SQL ``DELETE WHERE`` three-valued logic) — such rows are
    counted out of discovery by ``coalesce(pred, false)`` and explicitly
    KEPT by ``pred IS NULL OR NOT pred`` in the rewrite, so a delete on a
    nullable column never silently erases NULL rows."""
    from urllib.parse import unquote, urlparse

    _require(mode in ("cow", "mor"), f"unknown delete mode {mode!r}")
    base = _current_version(warehouse, table)
    parts = _manifest(warehouse, table, base) if base else None
    parts = parts or []
    if not parts:
        return 0
    m_base = _read_manifest_file(warehouse, table, base)
    specs, dv = m_base["specs"], m_base["dv"]
    tdir = os.path.join(warehouse, table)
    if mode == "mor":
        return _delete_rows_mor(
            spark, warehouse, table, predicate, tag, base, m_base
        )
    probe = None
    for br in _part_branches(
        spark, warehouse, table, parts, specs, m_base["schema"]
    ):
        # filter BEFORE projecting the (non-deterministic) file name so
        # the predicate still pushes down to each scan
        b = br.filter(F.coalesce(predicate, F.lit(False))).select(
            F.input_file_name().alias("f")
        )
        probe = b if probe is None else probe.unionByName(b)
    hits = probe.distinct().collect()
    affected: set[str] = set()
    for r in hits:
        rel = os.path.relpath(unquote(urlparse(r.f).path), tdir)
        affected.add(rel.split(os.sep)[0])
    if not affected:
        return 0
    # DV-aware rewrite: a part with outstanding deletion vectors must
    # not resurrect its vectorized rows when rewritten (the rewrite
    # also MATERIALIZES them — the replacement carries no dv entry).
    # On a row-tracked table the rewrite carries _row_id physically so
    # surviving rows keep their stable ids.
    if m_base["row_base"] is not None:
        kept = _scan_with_row_ids(
            spark, warehouse, table, sorted(affected), m_base
        )
    else:
        kept = _read_parts_live(
            spark,
            warehouse,
            table,
            sorted(affected),
            specs,
            dv,
            m_base["schema"],
        )
    kept = kept.filter(predicate.isNull() | ~predicate)
    new_part = f"d{tag}"
    # a reused tag would overwrite a part's directory — including one
    # referenced only by OLDER manifests (time travel) — so check the
    # disk, not just the live manifest
    _require(
        new_part not in parts
        and not os.path.exists(os.path.join(tdir, new_part)),
        f"delete tag {tag!r} collides with {new_part}",
    )
    kept.coalesce(APPEND_WRITE_FILES).write.mode("overwrite").parquet(
        os.path.join(tdir, new_part)
    )
    # delta commit (add rewrite, drop inputs): disjoint concurrent
    # commits rebase under WriteSerializable; a concurrent rewrite of
    # the SAME parts raises.  Bloom coverage for the rewrite rides the
    # same commit — a churned table keeps pruning point lookups.
    badd = _maintain_blooms(
        spark, warehouse, table, m_base, [new_part], new_part
    )
    swing_rebase(
        warehouse, table, base, [new_part], affected, blooms_add=badd
    )
    return len(affected)


def _delete_rows_mor(
    spark: SparkSession,
    warehouse: str,
    table: str,
    predicate,
    tag: str,
    base: int,
    m_base: dict,
) -> int:
    """Merge-on-read half of :func:`delete_rows`: ONE job scans the
    table with the predicate pushed down, anti-filters rows an existing
    vector already deleted (sidecars stay O(newly deleted rows), and a
    re-delivered delete is a no-op commit), and writes the surviving
    matches' physical positions to a single sidecar file.  No part is
    rewritten; the commit attaches the sidecar to the affected parts
    through the row-level rebase."""
    import shutil

    parts, specs, dv = m_base["parts"], m_base["specs"], m_base["dv"]
    tdir = os.path.join(warehouse, table)
    dvname = f"v{tag}"
    _require(
        dvname not in parts
        and not os.path.exists(os.path.join(tdir, dvname)),
        f"delete tag {tag!r} collides with {dvname}",
    )
    rel = _rel_file_expr(tdir)
    probe = None
    for br in _part_branches(
        spark, warehouse, table, parts, specs, m_base["schema"]
    ):
        # filter first so the predicate pushes down to the scan; the
        # row-position key is projected only for surviving matches
        b = br.filter(F.coalesce(predicate, F.lit(False))).select(
            rel.alias("f"), F.col("_metadata.row_index").alias("i")
        )
        probe = b if probe is None else probe.unionByName(b)
    live_dv = {p: ns for p, ns in dv.items() if ns}
    if live_dv:
        names = sorted({n for ns in live_dv.values() for n in ns})
        old = read_parquet(spark, *[os.path.join(tdir, n) for n in names])
        probe = probe.join(F.broadcast(old), ["f", "i"], "left_anti")
    # NO coalesce(1): it would collapse the probe SCAN into one task —
    # the sidecar may span a few files, the read path unions them anyway
    probe.write.parquet(os.path.join(tdir, dvname))
    # affected-part discovery reads the sidecar back — O(deleted rows)
    # input, part-count-bounded output
    affected = sorted(
        r["p"]
        for r in read_parquet(spark, os.path.join(tdir, dvname))
        .select(F.split("f", "/").getItem(0).alias("p"))
        .distinct()
        .collect()
    )
    if not affected:
        shutil.rmtree(os.path.join(tdir, dvname), ignore_errors=True)
        return 0
    swing_rebase(
        warehouse,
        table,
        base,
        [],
        dv_add={p: [dvname] for p in affected},
    )
    return len(affected)


def _stats_prove_all_match(m: dict, part: str, resolved: list) -> bool:
    """True when the manifest stats PROVE every physical row of
    ``part`` satisfies every resolved predicate ``(phys, op, enc,
    kind)`` — the precondition for dropping the part metadata-only.
    Conservative by construction: parquet string bounds may be
    inexact, but only outward (stored lo <= true min, stored hi >=
    true max), so each check below still implies all-match; any
    missing bound, null presence, or family mismatch returns False
    (the part then takes the row-level path, never a wrong drop)."""
    pstats = m["stats"].get(part)
    if not pstats:
        return False
    for phys, op, enc, kind in resolved:
        e = pstats.get(phys)
        if (
            e is None
            or e.get("n", 0) == 0
            or e.get("nulls", 0) != 0  # NULL rows never match: keep
            or "lo" not in e
            or enc is None
            or kind is None
            or e.get("k") != kind
        ):
            return False
        lo, hi = e["lo"], e["hi"]
        if op == "in":
            # provable only when the part is single-valued on the
            # column and that value is in the list
            if not (
                lo == hi and any(v == lo and k == kind for v, k in enc)
            ):
                return False
        elif not {
            "=": lo == hi == enc,
            "<": hi < enc,
            "<=": hi <= enc,
            ">": lo > enc,
            ">=": lo >= enc,
        }[op]:
            return False
    return True


def delete_where(
    spark: SparkSession,
    warehouse: str,
    table: str,
    predicates: list[tuple],
    tag: str,
    mode: str = "cow",
) -> dict:
    """Structured ``DELETE WHERE`` — :func:`delete_rows` plus the
    METADATA-ONLY fast path Delta/Iceberg take for partition-aligned
    deletes: a part whose manifest stats prove EVERY row matches is
    dropped from the manifest with zero data I/O; a part whose stats
    prove NO row matches is never opened; only BOUNDARY parts pay the
    row-level discovery + COW rewrite.  A key-range or date-partition
    retention delete over 100 TB therefore commits in O(manifest)
    metadata plus at most the boundary partitions' rewrite — the verb
    behind ``DELETE WHERE date < retention_horizon``.

    Conjunctive predicates as in :func:`prune_parts`:
    ``[(logical_col, op, literal)]`` with ops ``= < <= > >= in``.
    Three-valued logic as in SQL DELETE: NULL-predicate rows are KEPT
    (and a part containing nulls in a predicate column is never
    metadata-dropped).  Everything lands in ONE atomic commit.

    ``mode="mor"`` swaps the boundary rewrite for deletion-vector
    sidecars (:func:`delete_rows`'s merge-on-read half): the fully-
    matching parts still drop metadata-only, the boundary parts gain
    an O(matched rows) vector — a retention delete then moves ZERO
    part bytes anywhere, in one commit.

    Returns ``{"dropped": [...], "rewritten": [...]}`` (under MOR,
    "rewritten" lists the parts that gained a vector)."""
    from urllib.parse import unquote, urlparse

    _require(mode in ("cow", "mor"), f"unknown delete mode {mode!r}")
    base = _current_version(warehouse, table)
    if not base:
        return {"dropped": [], "rewritten": []}
    # parts that MIGHT contain matches (stats + bloom pruning); the
    # rest provably hold no matching row and are untouched
    kept, m = prune_parts(warehouse, table, predicates, base)
    to_phys = {logical: phys for phys, logical in m["renames"].items()}
    resolved = []
    for col, op, val in predicates:
        phys = to_phys.get(col, col)
        if op == "in":
            resolved.append(
                (
                    phys,
                    "in",
                    [(_enc_stat(e), _stat_kind(e)) for e in val],
                    _stat_kind(val[0]) if val else None,
                )
            )
        else:
            resolved.append((phys, op, _enc_stat(val), _stat_kind(val)))
    dropped = [
        p for p in kept if _stats_prove_all_match(m, p, resolved)
    ]
    boundary = [p for p in kept if p not in dropped]
    tdir = os.path.join(warehouse, table)
    pred = _predicates_column(predicates)
    affected: set[str] = set()
    added: list[str] = []
    if boundary and mode == "mor":
        # merge-on-read boundary: vectorize the matching live rows of
        # the boundary parts (anti-joined against existing vectors so a
        # redelivered delete stays a no-op) — zero part bytes move
        import shutil

        dvname = f"vd{tag}"
        _require(
            dvname not in m["parts"]
            and not os.path.exists(os.path.join(tdir, dvname)),
            f"delete tag {tag!r} collides with {dvname}",
        )
        rel = _rel_file_expr(tdir)
        probe = None
        for br in _part_branches(
            spark, warehouse, table, boundary, m["specs"], m["schema"]
        ):
            b = br.filter(F.coalesce(pred, F.lit(False))).select(
                rel.alias("f"), F.col("_metadata.row_index").alias("i")
            )
            probe = b if probe is None else probe.unionByName(b)
        live_dv = {
            p: ns
            for p, ns in m["dv"].items()
            if p in set(boundary) and ns
        }
        if live_dv:
            names = sorted({n for ns in live_dv.values() for n in ns})
            old = read_parquet(
                spark, *[os.path.join(tdir, n) for n in names]
            )
            probe = probe.join(F.broadcast(old), ["f", "i"], "left_anti")
        probe.write.parquet(os.path.join(tdir, dvname))
        dv_parts = sorted(
            r["p"]
            for r in read_parquet(spark, os.path.join(tdir, dvname))
            .select(F.split("f", "/").getItem(0).alias("p"))
            .distinct()
            .collect()
        )
        if not dv_parts:
            shutil.rmtree(os.path.join(tdir, dvname), ignore_errors=True)
        if not dropped and not dv_parts:
            return {"dropped": [], "rewritten": []}
        swing_rebase(
            warehouse,
            table,
            base,
            [],
            set(dropped),
            dv_add={p: [dvname] for p in dv_parts},
        )
        return {"dropped": sorted(dropped), "rewritten": dv_parts}
    if boundary:
        # row-level half, restricted to the boundary parts: discovery
        # (which boundary parts REALLY hold matches), then one rewrite
        # job — delete_rows' exact shape on a pruned part set
        probe = None
        for br in _part_branches(
            spark, warehouse, table, boundary, m["specs"], m["schema"]
        ):
            b = br.filter(F.coalesce(pred, F.lit(False))).select(
                F.input_file_name().alias("f")
            )
            probe = b if probe is None else probe.unionByName(b)
        for r in probe.distinct().collect():
            rel = os.path.relpath(unquote(urlparse(r.f).path), tdir)
            affected.add(rel.split(os.sep)[0])
        if affected:
            new_part = f"d{tag}"
            _require(
                new_part not in m["parts"]
                and not os.path.exists(os.path.join(tdir, new_part)),
                f"delete tag {tag!r} collides with {new_part}",
            )
            if m["row_base"] is not None:
                keep_df = _scan_with_row_ids(
                    spark, warehouse, table, sorted(affected), m
                )
            else:
                keep_df = _read_parts_live(
                    spark,
                    warehouse,
                    table,
                    sorted(affected),
                    m["specs"],
                    m["dv"],
                    m["schema"],
                )
            keep_df.filter(pred.isNull() | ~pred).coalesce(
                APPEND_WRITE_FILES
            ).write.parquet(os.path.join(tdir, new_part))
            added = [new_part]
    if not dropped and not added:
        return {"dropped": [], "rewritten": []}
    removed = set(dropped) | affected
    swing_rebase(
        warehouse,
        table,
        base,
        added,
        removed,
        blooms_add=_maintain_blooms(
            spark, warehouse, table, m, added, f"d{tag}"
        ),
    )
    return {"dropped": sorted(dropped), "rewritten": sorted(affected)}


def q_partition_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only DELETE gate — the retention delete a 100 TB
    key/date-partitioned table runs: four range-disjoint parts (event_id
    quartiles), then ``DELETE WHERE event_id < cut`` with the cut INSIDE
    the second quartile.  The fully-matching first part must be DROPPED
    with zero data I/O (its bytes stay on disk for time travel, just
    unreferenced by the head), ONLY the boundary part is rewritten, and
    the two upper parts keep their inodes — proven, not assumed.
    Oracle: the events projection at or above the cut."""
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    mx = ev.agg(F.max("event_id")).collect()[0][0]
    cut = 3 * (mx + 1) // 8  # strictly inside quartile 2
    w = tempfile.mkdtemp(prefix="spark_spotify_pdel_")
    try:
        t = ev.withColumn(
            "b", F.floor(F.col("event_id") * 4 / (mx + 1)).cast("int")
        )
        stage = os.path.join(w, "_stage")
        t.repartition("b").write.partitionBy("b").parquet(stage)
        tdir = os.path.join(w, "t")
        os.makedirs(tdir)
        parts = []
        for k in range(4):
            src = os.path.join(stage, f"b={k}")
            _require(os.path.isdir(src), f"empty quartile bucket {k}")
            os.rename(src, os.path.join(tdir, f"p{k + 1}"))
            parts.append(f"p{k + 1}")
        _swing(w, "t", parts)

        def _inodes(ps):
            return {
                f"{p}/{f}": os.stat(os.path.join(tdir, p, f)).st_ino
                for p in ps
                for f in os.listdir(os.path.join(tdir, p))
                if f.endswith(".parquet")
            }

        upper_before = _inodes(["p3", "p4"])
        res = delete_where(
            spark, w, "t", [("event_id", "<", cut)], "g1"
        )
        _require(
            res == {"dropped": ["p1"], "rewritten": ["p2"]},
            f"metadata fast path mis-planned: {res}",
        )
        _require(
            _inodes(["p3", "p4"]) == upper_before,
            "provably-unmatching parts must keep their bytes",
        )
        _require(
            sorted(_manifest(w, "t")) == ["dg1", "p3", "p4"],
            f"manifest after delete: {_manifest(w, 't')}",
        )
        _require(
            os.path.isdir(os.path.join(tdir, "p1")),
            "dropped part's bytes stay for time travel",
        )
        return stable_checkpoint(read_table(spark, w, "t"))
    finally:
        shutil.rmtree(w, ignore_errors=True)


def q_row_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE gate: hard-link the shared warehouse's fact parts into an
    isolated table dir (the shared manifests stay untouched for the other
    gates), delete one user's rows copy-on-write, and return the table —
    the oracle is the star join excluding that user."""
    import shutil
    import tempfile

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_del_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", parts)
        delete_rows(
            spark, cw, "fact", F.col("user_id") == DELETE_USER, "d1"
        )
        # the erased subject must be gone from the committed table
        out = read_table(spark, cw, "fact")
        return stable_checkpoint(out)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def q_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector gate — the merge-on-read DELETE drill: hard-link
    the shared warehouse's fact parts into an isolated table, MOR-delete
    one user, and PROVE the physics in-line: every part file keeps its
    inode (zero rewrite), the sidecar is the only new data and is
    row-sized, and a follow-up compaction MATERIALIZES the vectors away
    with the table hash-identical throughout.  Oracle = the star join
    minus the erased subject — byte-for-byte the same SQL as the COW
    delete gate, because the two physical strategies must be logically
    indistinguishable."""
    import shutil
    import tempfile

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_dv_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", parts)
        tdir = os.path.join(cw, "fact")

        def _inodes() -> dict[str, int]:
            out = {}
            for p in parts:
                for f in os.listdir(os.path.join(tdir, p)):
                    if f.endswith(".parquet"):
                        out[f"{p}/{f}"] = os.stat(
                            os.path.join(tdir, p, f)
                        ).st_ino
            return out

        before = _inodes()
        n = delete_rows(
            spark,
            cw,
            "fact",
            F.col("user_id") == DELETE_USER,
            "g1",
            mode="mor",
        )
        _require(n > 0, "MOR delete matched no parts")
        _require(
            _inodes() == before,
            "MOR delete must not rewrite any part file",
        )
        m = _read_manifest_file(cw, "fact", _current_version(cw, "fact"))
        _require(
            sorted(m["parts"]) == sorted(parts)
            and all(m["dv"].get(p) == ["vg1"] for p in m["dv"]),
            "MOR delete must commit sidecar references, not part churn",
        )
        out = read_table(spark, cw, "fact")
        return stable_checkpoint(out)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def _link_fact_into(warehouse: str, parts: list[str], cw: str) -> None:
    """Hard-link the shared warehouse's fact parts into an isolated table
    dir (zero data copy; the shared manifests stay untouched)."""
    for p in parts:
        src = os.path.join(warehouse, "fact", p)
        dst = os.path.join(cw, "fact", p)
        os.makedirs(dst)
        for f in os.listdir(src):
            os.link(os.path.join(src, f), os.path.join(dst, f))


def matched_update(condition=None, assignments=None):
    """``WHEN MATCHED [AND condition] THEN UPDATE`` arm for
    :func:`merge_rows`.  ``assignments=None`` is ``SET *`` (the source
    row replaces the target row wholly); a dict ``{col: Column}`` is a
    partial ``SET col = expr`` — unassigned columns KEEP their target
    values (Delta semantics).  Conditions/exprs reference the target as
    alias ``t`` and the source as alias ``s``."""
    return ("update", condition, assignments)


def matched_delete(condition=None):
    """``WHEN MATCHED [AND condition] THEN DELETE`` arm — the CDC
    tombstone-apply verb."""
    return ("delete", condition, None)


def not_matched_insert(condition=None):
    """``WHEN NOT MATCHED [AND condition] THEN INSERT *`` arm.  The
    condition may reference only the source (alias ``s``) — there is no
    target row on this side, per the SQL MERGE grammar."""
    return ("insert", condition, None)


def not_matched_by_source_update(condition=None, assignments=None):
    """``WHEN NOT MATCHED BY SOURCE [AND condition] THEN UPDATE SET``
    arm: applies to TARGET rows with no source match.  Conditions and
    assignment exprs may reference only the target (alias ``t``) — no
    source row exists on this side, so ``assignments`` is REQUIRED
    (there is no ``SET *``).  SCALE FLAG: this arm predicates on every
    target row, making the MERGE a full-table rewrite — see
    :func:`merge_rows`."""
    _require(
        bool(assignments),
        "NOT MATCHED BY SOURCE UPDATE requires explicit assignments "
        "(no source row exists to SET * from)",
    )
    return ("update", condition, assignments)


def not_matched_by_source_delete(condition=None):
    """``WHEN NOT MATCHED BY SOURCE [AND condition] THEN DELETE`` arm —
    the replica-sync verb (target rows absent from the authoritative
    source feed are removed).  SCALE FLAG: full-table rewrite; see
    :func:`merge_rows`."""
    return ("delete", condition, None)


def _merge_first_arm(arms, codes, default):
    """Classify a row into the FIRST applicable arm (SQL MERGE clause
    order; NULL conditions do not apply — three-valued logic)."""
    act = default
    for i in reversed(range(len(arms))):
        _, cond, _ = arms[i]
        c = (
            F.lit(True)
            if cond is None
            else F.coalesce(cond, F.lit(False))
        )
        act = F.when(c, F.lit(codes[i])).otherwise(act)
    return act


def merge_rows(
    spark: SparkSession,
    warehouse: str,
    table: str,
    source: DataFrame,
    key: str,
    tag: str,
    when_matched: list | None = None,
    when_not_matched: list | None = None,
    merge_schema: bool = False,
    mode: str = "cow",
    when_not_matched_by_source: list | None = None,
) -> int:
    """MERGE INTO — the Delta/Iceberg copy-on-write upsert commit, the
    last CRUD verb the versioned warehouse needed (append `_commit_append`,
    DELETE `delete_rows`, and now MERGE), with the FULL conditional
    grammar: an ordered list of ``WHEN MATCHED [AND cond] THEN
    UPDATE/DELETE`` arms (first arm whose condition holds applies — Delta
    clause-order semantics; a matched row no arm claims is left
    unchanged) and ``WHEN NOT MATCHED [AND cond] THEN INSERT *`` arms (a
    source row no arm claims is discarded).  Defaults reproduce the
    unconditional upsert: ``UPDATE SET *`` + ``INSERT *``.  Parts
    containing matched keys are rewritten with the arms applied;
    inserted source rows land in the same new part; untouched parts keep
    their bytes; the manifest swings atomically.  Write cost is
    O(affected parts + source), never a table rewrite.

    Mirrors the reference's upsert intent (daily_etl_pipeline.py:350-370's
    ON CONFLICT DO UPDATE) at warehouse granularity — the conditional
    DELETE arm is the CDC-apply-with-tombstones verb that upsert
    degenerates from.  ``key`` must be unique in both target and source
    (the MERGE cardinality precondition — Delta raises on multiple
    source matches for the same target row), and ``source`` must carry
    the target's exact physical schema — unless ``merge_schema=True``
    (Delta ``mergeSchema`` MERGE): source columns ABSENT from the
    target additively evolve the table schema in the SAME commit.  The
    rewritten part carries the new columns (NULL on target rows no arm
    assigned), untouched parts keep their bytes, and the commit records
    the evolved TABLE-OWNED schema in the manifest so readers surface
    NULL for pre-evolution parts with zero footer-merging I/O — the CDC
    pattern where an upstream feed grows a column mid-stream.  Without
    the flag, extra source columns remain condition-only (never
    written), as before.

    ``when_not_matched_by_source`` (``WHEN NOT MATCHED BY SOURCE``
    UPDATE/DELETE arms, the replica-sync half of the full Delta
    grammar) is offered as an EXPLICITLY SCALE-FLAGGED verb: it
    predicates on target rows with no source match, which makes EVERY
    part affected and turns the MERGE into a full-table rewrite (part
    discovery is skipped — all parts are rewritten by definition).
    At warehouse scale prefer :func:`delete_rows` with an anti-join
    predicate when the arm is a plain delete; use this form when the
    three arm families must commit ATOMICALLY (one snapshot swing).
    COW only — a full-scan verb has nothing to gain from merge-on-read
    sidecars, so ``mode="mor"`` rejects it.

    Exactly TWO Spark jobs regardless of part count (same scale shape as
    ``delete_rows``; a per-part driver loop would be ~800K sequential job
    launches at 100 TB):

    1. **Discovery** — one scan of the table inner-joined against the
       BROADCAST source key set (source is delta-sized by contract),
       collecting the DISTINCT ``input_file_name()`` set (metadata-sized).
       Any table row matching a source key lives in an affected part, so a
       source key with NO affected-part match exists nowhere in the table
       — it is an INSERT; no second existence scan is needed.  On a
       clustered layout (etl_cluster_layout) footer min/max stats bound
       discovery to the key-range parts.
    2. **Rewrite** — ONE job full-outer-joining the affected parts' rows
       with the source on ``key``: each row is classified ONCE into the
       first applicable arm (a single ``_action`` CASE column — arm
       conditions evaluate exactly once per row, Delta's contract), then
       deletes/discards are filtered and the per-column CASE projects
       the winning arm's values.  One new part; manifest =
       (parts - affected) + [new part].

    Returns the number of affected (rewritten) parts."""
    from urllib.parse import unquote, urlparse

    if when_matched is None:
        when_matched = [matched_update()]
    if when_not_matched is None:
        when_not_matched = [not_matched_insert()]
    _require(
        all(kind in ("update", "delete") for kind, _, _ in when_matched),
        "when_matched arms must be matched_update/matched_delete",
    )
    _require(
        all(kind == "insert" for kind, _, _ in when_not_matched),
        "when_not_matched arms must be not_matched_insert",
    )
    when_not_matched_by_source = when_not_matched_by_source or []
    _require(
        all(
            kind in ("update", "delete") and (kind == "delete" or assign)
            for kind, _, assign in when_not_matched_by_source
        ),
        "when_not_matched_by_source arms must be "
        "not_matched_by_source_update/_delete",
    )
    _require(mode in ("cow", "mor"), f"unknown merge mode {mode!r}")
    _require(
        not (when_not_matched_by_source and mode == "mor"),
        "WHEN NOT MATCHED BY SOURCE is a full-table rewrite: COW only",
    )
    base = _current_version(warehouse, table)
    parts = (_manifest(warehouse, table, base) if base else None) or []
    tdir = os.path.join(warehouse, table)
    new_part = f"m{tag}"
    # check the DISK, not just the live manifest: a part dropped from
    # the current version may still be referenced by older manifests
    # (time travel) — overwriting its directory would corrupt history
    _require(
        new_part not in parts
        and not os.path.exists(os.path.join(tdir, new_part)),
        f"merge tag {tag!r} collides with {new_part}",
    )
    # enforce the MERGE cardinality precondition Delta enforces: a
    # duplicate (or NULL) source key would fan out through the
    # full-outer join and commit corrupt rows.  One aggregate over the
    # delta-sized source — deferred into a thunk so the part-discovery
    # scan (read-only, independent) can run overlapped with it (§2.6);
    # both must settle before any byte is written.
    def _cardinality_row():
        return source.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(key).alias("nk"),
            F.countDistinct(key).alias("nd"),
        ).collect()[0]
    m_base = _read_manifest_file(warehouse, table, base) if base else None
    specs = {}
    affected: set[str] = set()
    # additive schema evolution: source columns the target lacks become
    # new table columns (merge_schema=True), committed with the part
    new_fields = []
    evolved_schema_json = None
    if merge_schema and parts:
        from pyspark.sql.types import StructType

        if m_base["schema"] is not None:
            import json as _json

            tgt_struct = StructType.fromJson(_json.loads(m_base["schema"]))
        else:
            tgt_struct = _read_parts(
                spark, warehouse, table, parts[:1], m_base["specs"]
            ).schema
        have = {f.name for f in tgt_struct.fields}
        new_fields = [
            f for f in source.schema.fields if f.name not in have
        ]
        if new_fields:
            evolved_schema_json = StructType(
                list(tgt_struct.fields) + new_fields
            ).json()
    if parts and when_not_matched_by_source:
        # the by-source arms predicate on EVERY target row: all parts
        # are affected by definition, so discovery is skipped
        specs = m_base["specs"]
        affected = set(parts)
        sc_row = _cardinality_row()
    elif parts:
        specs = m_base["specs"]

        def _discover():
            probe = None
            for br in _part_branches(
                spark, warehouse, table, parts, specs, m_base["schema"]
            ):
                # project (key, file) BEFORE the join —
                # input_file_name() is single-source only, and this
                # keeps the probe slim, the late-materialization shape
                b = br.select(F.col(key), F.input_file_name().alias("f"))
                probe = b if probe is None else probe.unionByName(b)
            return (
                probe.join(
                    F.broadcast(source.select(key).distinct()),
                    key,
                    "inner",
                )
                .select("f")
                .distinct()
                .collect()
            )

        # two independent read-only jobs — cardinality gate and part
        # discovery — overlapped (§2.6): the gate still settles before
        # any write or commit below
        sc_row, hits = overlap(_cardinality_row, _discover)
        for r in hits:
            rel = os.path.relpath(unquote(urlparse(r.f).path), tdir)
            affected.add(rel.split(os.sep)[0])
    else:
        sc_row = _cardinality_row()
    _require(
        sc_row["n"] == sc_row["nk"] == sc_row["nd"],
        f"source keys must be unique and non-null "
        f"(rows={sc_row['n']}, non-null={sc_row['nk']}, "
        f"distinct={sc_row['nd']})",
    )
    # arm conditions follow SQL MERGE three-valued logic: NULL = arm
    # does not apply (coalesce to false), and arms are tried IN ORDER
    _first_arm = _merge_first_arm

    KEEP, DISCARD = 0, -1  # keep target row unchanged / drop source row
    m_codes = list(range(1, len(when_matched) + 1))
    i_codes = [100 + j for j in range(len(when_not_matched))]
    bs_codes = [200 + j for j in range(len(when_not_matched_by_source))]
    delete_codes = [
        c
        for c, (kind, _, _) in zip(
            m_codes + bs_codes,
            when_matched + when_not_matched_by_source,
        )
        if kind == "delete"
    ]
    tracked = m_base is not None and m_base["row_base"] is not None
    if affected and mode == "mor":
        return _merge_rows_mor(
            spark,
            warehouse,
            table,
            source,
            key,
            tag,
            when_matched,
            when_not_matched,
            base,
            m_base,
            sorted(affected),
            new_fields,
            evolved_schema_json,
            tracked,
        )
    if affected:
        # DV-aware: rewriting a part must not resurrect its vectorized
        # rows (and materializes them — the new part has no dv entry).
        # Row-tracked rewrites carry _row_id: updates KEEP the target
        # row's id (an update is the same row), inserts mint fresh ids
        # past the high-water mark.
        if tracked:
            tgt = _scan_with_row_ids(
                spark, warehouse, table, sorted(affected), m_base
            )
        else:
            tgt = _read_parts_live(
                spark,
                warehouse,
                table,
                sorted(affected),
                specs,
                m_base["dv"],
                m_base["schema"],
            )
        cols = tgt.columns
        _require(
            "_action" not in cols and "_action" not in source.columns,
            "'_action' is reserved by MERGE row classification",
        )
        joined = tgt.alias("t").join(
            source.alias("s"), F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer"
        )
        action = (
            # source key is non-null by contract: s.key NULL <=> no
            # source row joined <=> target-only (and vice versa for t)
            F.when(
                F.col(f"s.{key}").isNull(),
                _first_arm(
                    when_not_matched_by_source, bs_codes, F.lit(KEEP)
                ),
            )
            .when(
                F.col(f"t.{key}").isNull(),
                _first_arm(when_not_matched, i_codes, F.lit(DISCARD)),
            )
            .otherwise(_first_arm(when_matched, m_codes, F.lit(KEEP)))
        )
        surviving = joined.withColumn("_action", action).filter(
            ~F.col("_action").isin([DISCARD] + delete_codes)
        )

        new_types = {f.name: f.dataType for f in new_fields}
        if tracked:
            # fresh ids for insert-arm rows: hwm + dense rank among the
            # inserts (delta-sized window, deterministic by source key)
            _fresh_id = F.lit(m_base["row_hwm"]) + F.row_number().over(
                Window.partitionBy(F.col("_action") >= 100).orderBy(
                    F.col(f"s.{key}")
                )
            ) - F.lit(1)

        def _value(c: str) -> F.Column:
            if c == "_row_id":
                # never source-supplied: updates keep the target id,
                # inserts mint past the high-water mark
                w = None
                for code in i_codes:
                    w = (w.when if w is not None else F.when)(
                        F.col("_action") == code, _fresh_id
                    )
                t = F.col("t._row_id")
                return (w.otherwise(t) if w is not None else t).alias(c)
            # an EVOLVED column has no target side: its "keep the target
            # value" default is NULL of the source's type (Delta
            # NULL-backfills unmatched rows on schema-evolving MERGE)
            tdef = (
                F.lit(None).cast(new_types[c])
                if c in new_types
                else F.col(f"t.{c}")
            )
            w = None
            for code, (kind, _, assign) in zip(
                m_codes + bs_codes,
                when_matched + when_not_matched_by_source,
            ):
                if kind != "update":
                    continue
                # SET * -> source column; partial SET -> assigned expr,
                # unassigned columns keep the target value (Delta).
                # By-source arms always carry assignments (enforced).
                v = (
                    F.col(f"s.{c}")
                    if assign is None
                    else assign.get(c, tdef)
                )
                w = (w.when if w is not None else F.when)(
                    F.col("_action") == code, v
                )
            for code in i_codes:
                w = (w.when if w is not None else F.when)(
                    F.col("_action") == code, F.col(f"s.{c}")
                )
            return (w.otherwise(tdef) if w is not None else tdef).alias(c)

        merged = surviving.select(
            *[_value(c) for c in cols + [f.name for f in new_fields]]
        )
    else:
        # pure insert: no key matched anywhere, so only the not-matched
        # arms apply — a source row is inserted iff ANY arm claims it
        # (insert arms are all INSERT *, so first-match == any-match)
        s = source.alias("s")
        conds = [cond for _, cond, _ in when_not_matched]
        if any(c is None for c in conds):
            merged = s
        elif conds:
            from functools import reduce

            merged = s.filter(
                reduce(
                    lambda a, b: a | b,
                    [F.coalesce(c, F.lit(False)) for c in conds],
                )
            )
        else:
            merged = s.limit(0)
        if parts:
            # a CDC source may carry extra condition-only columns (e.g.
            # _change_type) — INSERT * means the TARGET's schema (plus
            # the evolving columns under merge_schema), read from the
            # manifest or a footer, never the source's.  A footer from
            # a COW-rewritten part carries the hidden _row_id column —
            # never part of the logical schema, and the source has no
            # such column (pure-insert ids are minted VIRTUALLY at
            # commit via row_base), so it is filtered out here.
            tcols = [
                c
                for c in _read_parts(
                    spark, warehouse, table, parts[:1], specs,
                    m_base["schema"],
                ).columns
                if c != "_row_id"
            ]
            merged = merged.select(
                *(tcols + [f.name for f in new_fields])
            )
    merged.coalesce(APPEND_WRITE_FILES).write.mode("overwrite").parquet(
        os.path.join(tdir, new_part)
    )
    # arms can assign arbitrary values, so MERGE output is CHECKed like
    # any other delta before the commit
    _enforce_constraints(spark, warehouse, table, new_part)
    # delta commit: disjoint concurrent commits rebase, overlapping
    # rewrites of the same parts raise (WriteSerializable); a
    # schema-evolving MERGE records the evolved table schema atomically
    # with its part swap, and bloom coverage for the merge output rides
    # the same commit
    swing_rebase(
        warehouse,
        table,
        base,
        [new_part],
        affected,
        schema=evolved_schema_json,
        blooms_add=(
            _maintain_blooms(
                spark, warehouse, table, m_base, [new_part], new_part
            )
            if m_base
            else None
        ),
        # advance the id high-water mark past anything the insert arms
        # minted (bounded by the source row count).  Only the MATCHED
        # path materializes ids into part bytes; a pure insert carries
        # no _row_id column — its ids are minted virtually at commit
        # from the CURRENT watermark, so it neither needs the floor nor
        # the stale-watermark conflict the floor triggers.
        row_hwm_min=(
            m_base["row_hwm"] + int(sc_row["n"])
            if tracked and affected
            else 0
        ),
    )
    return len(affected)


def _merge_rows_mor(
    spark: SparkSession,
    warehouse: str,
    table: str,
    source: DataFrame,
    key: str,
    tag: str,
    when_matched: list,
    when_not_matched: list,
    base: int,
    m_base: dict,
    affected: list[str],
    new_fields: list,
    evolved_schema_json: str | None,
    tracked: bool,
) -> int:
    """Merge-on-read half of :func:`merge_rows` (Delta's DV-enabled
    MERGE): matched rows an arm claims become deletion-vector entries in
    ONE O(matched rows) sidecar — their parts keep every byte — and the
    update images plus the inserts land together as ONE new part.  Write
    cost is O(source + sidecar) instead of O(affected parts): the shape
    a CDC feed trickling updates into large parts needs (a 10-row update
    against a 1 GB part writes ~10 rows twice, not 1 GB).

    Composed with row tracking: an update keeps the target row's stable
    ``_row_id`` (the MOR update is a DV entry + a re-insert carrying the
    old id, materialized physically in the new part); inserts mint past
    the high-water mark.  Because updates mint nothing, two concurrent
    update/delete-only MOR merges touching the SAME part with disjoint
    keys both land through the row-level rebase; only insert-minting
    writers serialize on the id watermark.

    ONE scan of the affected parts (staged delta-sized), then sidecar +
    part writes read the staging — the affected-part bytes are read
    exactly once regardless of how many outputs the merge produces."""
    import shutil

    import pyarrow.parquet as _pq

    specs = m_base["specs"]
    tdir = os.path.join(warehouse, table)
    new_part = f"m{tag}"  # collision-checked by merge_rows
    dvname = f"vm{tag}"
    _require(
        dvname not in m_base["parts"]
        and not os.path.exists(os.path.join(tdir, dvname)),
        f"merge tag {tag!r} collides with {dvname}",
    )
    stage = os.path.join(tdir, f"_mstage.{tag}")
    _require(
        not os.path.exists(stage), f"merge tag {tag!r} staging collides"
    )
    KEEP, DISCARD = 0, -1
    m_codes = list(range(1, len(when_matched) + 1))
    i_codes = [100 + j for j in range(len(when_not_matched))]
    delete_codes = [
        c
        for c, (kind, _, _) in zip(m_codes, when_matched)
        if kind == "delete"
    ]
    if tracked:
        tgt = _scan_with_row_ids(
            spark, warehouse, table, affected, m_base, keep_pos=True
        )
    else:
        tgt = _read_parts_live(
            spark,
            warehouse,
            table,
            affected,
            specs,
            m_base["dv"],
            m_base["schema"],
            keep_pos=True,
        )
    cols = [c for c in tgt.columns if c not in (_DV_FILE, _DV_IDX)]
    _require(
        "_action" not in cols and "_action" not in source.columns,
        "'_action' is reserved by MERGE row classification",
    )
    new_types = {f.name: f.dataType for f in new_fields}
    out_cols = cols + [f.name for f in new_fields]
    # matched rows only: the source is delta-sized by contract, so the
    # probe is a broadcast hash join — no shuffle of the affected parts
    joined = tgt.alias("t").join(
        F.broadcast(source).alias("s"),
        F.col(f"t.{key}") == F.col(f"s.{key}"),
        "inner",
    )
    action = _merge_first_arm(when_matched, m_codes, F.lit(KEEP))

    def _upd(c: str) -> F.Column:
        if c == "_row_id":
            # a MOR update is the SAME row re-materialized: it keeps
            # the target's stable id
            return F.col("t._row_id").alias(c)
        tdef = (
            F.lit(None).cast(new_types[c])
            if c in new_types
            else F.col(f"t.{c}")
        )
        w = None
        for code, (kind, _, assign) in zip(m_codes, when_matched):
            if kind != "update":
                continue
            v = F.col(f"s.{c}") if assign is None else assign.get(c, tdef)
            w = (w.when if w is not None else F.when)(
                F.col("_action") == code, v
            )
        return (w.otherwise(tdef) if w is not None else tdef).alias(c)

    # ONE job over the affected parts stages the delta-sized matched
    # set: position key + classified arm + post-update images.  The
    # MATCHED source key is staged separately (`_mkey`) because an
    # update arm may reassign the key column itself — the insert half
    # must anti-join on what the source row MATCHED, not on the
    # post-update image (else a key-rewriting update would also
    # insert its source row).
    _require(
        "_mkey" not in cols and "_mkey" not in source.columns,
        "'_mkey' is reserved by MERGE row classification",
    )
    joined.withColumn("_action", action).select(
        F.col(_DV_FILE),
        F.col(_DV_IDX),
        F.col("_action"),
        F.col(f"s.{key}").alias("_mkey"),
        *[_upd(c) for c in out_cols],
    ).write.parquet(stage)
    try:
        st = read_parquet(spark, stage)
        claimed = st.filter(F.col("_action") != KEEP)
        # vectorize every claimed row (update AND delete): its old image
        # must disappear from the old part's reads
        claimed.select(
            F.col(_DV_FILE).alias("f"),
            F.col(_DV_IDX).cast("long").alias("i"),
        ).coalesce(1).write.parquet(os.path.join(tdir, dvname))
        dv_parts = sorted(
            r["p"]
            for r in read_parquet(spark, os.path.join(tdir, dvname))
            .select(F.split("f", "/").getItem(0).alias("p"))
            .distinct()
            .collect()
        )
        updates = claimed.filter(
            ~F.col("_action").isin(delete_codes)
        ).select(*out_cols)
        # a source key present in the staging matched SOMETHING (even an
        # arm-less KEEP row) — everything else is the insert half
        ins = source.alias("s").join(
            st.select(F.col("_mkey").alias(key)).distinct(),
            key,
            "left_anti",
        )
        ins = ins.withColumn(
            "_action", _merge_first_arm(when_not_matched, i_codes, F.lit(DISCARD))
        ).filter(F.col("_action") != DISCARD)
        if tracked:
            # fresh ids past the watermark; delta-sized single-partition
            # window, deterministic by source key
            ins = ins.withColumn(
                "_row_id",
                F.lit(m_base["row_hwm"])
                + F.row_number().over(Window.orderBy(F.col(key)))
                - F.lit(1),
            )
        ins = ins.select(*out_cols)
        # the insert count only feeds the row-id high-water-mark advance
        # below — untracked tables never read it, so they skip the whole
        # extra execution of the insert plan (§1.2; the plan still runs
        # once inside the part write either way)
        n_ins = ins.count() if tracked else 0
        updates.unionByName(ins).coalesce(
            APPEND_WRITE_FILES
        ).write.parquet(os.path.join(tdir, new_part))
        npath = os.path.join(tdir, new_part)
        n_new = sum(
            _pq.ParquetFile(os.path.join(npath, f)).metadata.num_rows
            for f in os.listdir(npath)
            if f.endswith(".parquet")
        )
        added = [new_part]
        if n_new == 0:
            # delete-only merge with nothing to insert: sidecar-only
            shutil.rmtree(npath, ignore_errors=True)
            added = []
        if not dv_parts and not added:
            shutil.rmtree(os.path.join(tdir, dvname), ignore_errors=True)
            return 0
        if added:
            _enforce_constraints(spark, warehouse, table, new_part)
        if not dv_parts:
            shutil.rmtree(os.path.join(tdir, dvname), ignore_errors=True)
        swing_rebase(
            warehouse,
            table,
            base,
            added,
            dv_add={p: [dvname] for p in dv_parts},
            schema=evolved_schema_json,
            blooms_add=_maintain_blooms(
                spark, warehouse, table, m_base, added, new_part
            ),
            # updates keep existing ids — only INSERTS mint, so an
            # insert-free MOR merge stays concurrency-compatible with
            # other writers under the stale-watermark conflict rule
            row_hwm_min=(
                m_base["row_hwm"] + n_ins if tracked and n_ins else 0
            ),
        )
        return len(dv_parts)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


MERGE_UPDATE_USER = 11  # existing rows rewritten (value doubled)
MERGE_INSERT_USER = 13  # template rows re-keyed negative -> pure inserts


def q_merge_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE gate: hard-link the shared warehouse's fact parts into an
    isolated table dir, then MERGE one deterministic source batch that
    exercises BOTH arms at once — user {MERGE_UPDATE_USER}'s fact rows
    with ``value`` doubled (exact in IEEE binary64: scaling by a power of
    two — engine-portable) as the matched/update half, and user
    {MERGE_INSERT_USER}'s rows re-keyed to ``-(event_id + 1)`` (strictly
    negative — keys that exist nowhere in the table) as the
    not-matched/insert half.  Asserts the
    update half touched at least one part and the committed row count grew
    by exactly the insert count.  Oracle: the star join with the CASE'd
    value update, UNION ALL the negated-key insert rows."""
    import shutil
    import tempfile

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_mrg_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", parts)
        from spark_spotify.functions.concurrency import overlap

        fact = read_table(spark, cw, "fact")
        # ONE aggregation job covers both pre-merge cardinalities the
        # final assert needs (§1.2: total and insert-arm count ride the
        # same pre-merge scan instead of two sequential count jobs)
        pre = fact.agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(
                (F.col("user_id") == MERGE_INSERT_USER).cast("long")
            ).alias("n_inserts"),
        ).collect()[0]
        n_before, n_inserts = int(pre["n_before"]), int(pre["n_inserts"] or 0)
        updates = fact.filter(
            F.col("user_id") == MERGE_UPDATE_USER
        ).withColumn("value", F.col("value") * 2)
        inserts = fact.filter(
            F.col("user_id") == MERGE_INSERT_USER
        ).withColumn(
            # -(id+1) is STRICTLY negative — a bare -id would collide
            # with the live table at event_id 0 and silently turn one
            # insert into an update
            "event_id",
            -(F.col("event_id") + F.lit(1)),
        )
        n_affected = merge_rows(
            spark,
            cw,
            "fact",
            updates.unionByName(inserts),
            "event_id",
            "1",
        )
        _require(n_affected >= 1, "update arm matched no part")
        out = read_table(spark, cw, "fact")
        # the grown-by-exactly-the-inserts proof and the output
        # materialization both read the post-merge snapshot read-only —
        # overlapped (§2.6)
        n_after, out = overlap(
            out.count, lambda: stable_checkpoint(out)
        )
        _require(
            n_after == n_before + n_inserts,
            "MERGE must add exactly the not-matched rows",
        )
        return out
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def q_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read MERGE gate — the same dual-arm upsert as the COW
    gate (user {MERGE_UPDATE_USER}'s values doubled, user
    {MERGE_INSERT_USER}'s rows re-keyed negative as inserts), committed
    with ``mode="mor"``: every pre-existing part file keeps its inode
    (zero rewrites — the trickle-CDC write shape), the matched rows'
    old images disappear through ONE row-sized deletion-vector sidecar,
    and updates + inserts land as ONE new part.  A follow-up compaction
    materializes the vectors away with the table hash-identical.
    Oracle: byte-for-byte the COW merge SQL — the physical strategies
    must be logically indistinguishable."""
    import shutil
    import tempfile

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_mmor_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", parts)
        tdir = os.path.join(cw, "fact")

        def _inodes() -> dict[str, int]:
            out = {}
            for p in parts:
                for f in os.listdir(os.path.join(tdir, p)):
                    if f.endswith(".parquet"):
                        out[f"{p}/{f}"] = os.stat(
                            os.path.join(tdir, p, f)
                        ).st_ino
            return out

        fact = read_table(spark, cw, "fact")
        # ONE aggregation job covers both pre-merge cardinalities
        # (§1.2: the insert-arm count rides the total count's scan)
        pre = fact.agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(
                (F.col("user_id") == MERGE_INSERT_USER).cast("long")
            ).alias("n_inserts"),
        ).collect()[0]
        n_before = int(pre["n_before"])
        n_inserts = int(pre["n_inserts"] or 0)
        updates = fact.filter(
            F.col("user_id") == MERGE_UPDATE_USER
        ).withColumn("value", F.col("value") * 2)
        inserts = fact.filter(
            F.col("user_id") == MERGE_INSERT_USER
        ).withColumn("event_id", -(F.col("event_id") + F.lit(1)))
        before = _inodes()
        n_affected = merge_rows(
            spark,
            cw,
            "fact",
            updates.unionByName(inserts),
            "event_id",
            "1",
            mode="mor",
        )
        _require(n_affected >= 1, "update arm vectorized no part")
        _require(
            _inodes() == before,
            "MOR merge must not rewrite any part file",
        )
        m = _read_manifest_file(cw, "fact", _current_version(cw, "fact"))
        _require(
            sorted(m["parts"]) == sorted(parts + ["m1"])
            and all(m["dv"].get(p) == ["vm1"] for p in m["dv"])
            and len(m["dv"]) == n_affected,
            "MOR merge must commit one sidecar + one part, no churn",
        )
        out = read_table(spark, cw, "fact")
        # growth proof ∥ compaction: the count reads the pre-compaction
        # snapshot it already holds (COW — compaction only ADDS a part
        # and a manifest version, old parts stay for time travel), so
        # the two jobs are independent (§2.6)
        from spark_spotify.functions.concurrency import overlap

        n_after, _ = overlap(
            out.count,
            # compaction materializes the vectors; the table is unchanged
            lambda: compact_table(spark, cw, "fact", "z"),
        )
        _require(
            n_after == n_before + n_inserts,
            "MERGE must add exactly the not-matched rows",
        )
        m2 = _read_manifest_file(cw, "fact", _current_version(cw, "fact"))
        _require(m2["dv"] == {}, "compaction must purge the vectors")
        return stable_checkpoint(read_table(spark, cw, "fact"))
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def q_merge_not_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-grammar MERGE gate with the ``WHEN NOT MATCHED BY SOURCE``
    arm — replica sync in ONE atomic commit: user {MERGE_UPDATE_USER}'s
    rows update (value doubled, SET *), user {MERGE_INSERT_USER}'s rows
    re-keyed negative insert, and target rows outside the source feed
    belonging to user {DELETE_USER} are deleted by the by-source arm.
    The gate asserts the documented scale cost in-line: EVERY part is
    affected (full-table rewrite — the reason the arm is scale-flagged
    and the default grammar omits it).  Oracle: the star join with the
    CASE'd update, minus the deleted subject, plus the inserts."""
    import shutil
    import tempfile

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_mnbs_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", parts)
        fact = read_table(spark, cw, "fact")
        updates = fact.filter(
            F.col("user_id") == MERGE_UPDATE_USER
        ).withColumn("value", F.col("value") * 2)
        inserts = fact.filter(
            F.col("user_id") == MERGE_INSERT_USER
        ).withColumn("event_id", -(F.col("event_id") + F.lit(1)))
        n_affected = merge_rows(
            spark,
            cw,
            "fact",
            updates.unionByName(inserts),
            "event_id",
            "1",
            when_not_matched_by_source=[
                not_matched_by_source_delete(
                    F.col("t.user_id") == DELETE_USER
                )
            ],
        )
        _require(
            n_affected == len(parts),
            "the by-source arm makes every part affected by definition",
        )
        return stable_checkpoint(read_table(spark, cw, "fact"))
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def q_merge_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving MERGE gate (Delta ``mergeSchema`` MERGE) — the
    CDC feed grows a column mid-stream: the table gets a seed part of
    re-keyed template rows, then ONE MERGE whose source carries a NEW
    column (``src_system='cdc'``) updates exactly the seed rows (value
    doubled — IEEE-exact) and inserts a second re-keyed batch.  The
    commit must: evolve the table schema atomically (manifest-owned),
    leave every ORIGINAL fact part's bytes untouched (inode-proven —
    only the seed part is rewritten), and read back NULL
    ``src_system`` for every pre-evolution row with no footer-merge
    I/O.  Oracle: the star join with NULL src_system, UNION the updated
    seed rows, UNION the inserts — the from-scratch recompute under the
    evolved schema."""
    import shutil
    import tempfile

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_mev_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", parts)
        fact = read_table(spark, cw, "fact")
        seed = fact.filter(
            F.col("user_id") == MERGE_INSERT_USER
        ).withColumn("event_id", -(F.col("event_id") + F.lit(1)))
        seed.coalesce(APPEND_WRITE_FILES).write.parquet(
            os.path.join(cw, "fact", "seed1")
        )
        swing_rebase(cw, "fact", 1, ["seed1"])

        def _inodes() -> dict[str, int]:
            out = {}
            for p in parts:  # the ORIGINAL parts only
                d = os.path.join(cw, "fact", p)
                for f in os.listdir(d):
                    if f.endswith(".parquet"):
                        out[f"{p}/{f}"] = os.stat(
                            os.path.join(d, f)
                        ).st_ino
            return out

        before = _inodes()
        updates = seed.withColumn("value", F.col("value") * 2)
        inserts = seed.withColumn(
            "event_id", F.col("event_id") - F.lit(2_000_000_000)
        )
        src = updates.unionByName(inserts).withColumn(
            "src_system", F.lit("cdc")
        )
        merge_rows(
            spark, cw, "fact", src, "event_id", "1", merge_schema=True
        )
        _require(
            _inodes() == before,
            "schema-evolving MERGE must not rewrite unmatched parts",
        )
        m = _read_manifest_file(cw, "fact", _current_version(cw, "fact"))
        _require(
            m["schema"] is not None and "src_system" in m["schema"],
            "MERGE must record the evolved table-owned schema",
        )
        out = read_table(spark, cw, "fact")
        _require("src_system" in out.columns, "evolved column missing")
        return stable_checkpoint(out)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def q_merge_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-grammar MERGE gate — all three conditional arms in ONE
    commit, the CDC-apply-with-tombstones shape:

    - ``WHEN MATCHED AND s.event_id % 3 = 0 THEN DELETE`` — every third
      matched row of user {MERGE_UPDATE_USER} is tombstoned;
    - ``WHEN MATCHED THEN UPDATE SET value = t.value + s.value`` — the
      remaining matched rows get ``v + 2v`` (source carries ``value*2``;
      both scaling and the single add are IEEE-deterministic, so the
      oracle's ``value + value*2`` is bit-identical).  The source's
      OTHER columns are poisoned (``time_period='poison'``) to prove the
      partial-SET contract: unassigned columns keep their TARGET values;
    - ``WHEN NOT MATCHED AND s.played_hour < 12 THEN INSERT *`` — user
      {MERGE_INSERT_USER}'s rows re-keyed strictly negative, but only
      the morning half clears the insert condition (the rest are
      discarded, per the grammar).

    Clause order matters (delete is tried before the unconditional
    update — Delta first-match semantics) and the gate asserts the exact
    row accounting: n_before - deletes + conditional inserts."""
    import shutil
    import tempfile

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_mrgf_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", parts)
        fact = read_table(spark, cw, "fact")
        matched_src = (
            fact.filter(F.col("user_id") == MERGE_UPDATE_USER)
            .withColumn("value", F.col("value") * 2)
            # poison an unassigned column: partial SET must NOT copy it
            .withColumn("time_period", F.lit("poison"))
        )
        insert_src = fact.filter(
            F.col("user_id") == MERGE_INSERT_USER
        ).withColumn("event_id", -(F.col("event_id") + F.lit(1)))
        # ONE aggregation job covers the four pre-merge cardinalities
        # the asserts and the final accounting need (§1.2: they all
        # ride the same fact scan; the arm filters are pure predicates
        # over unmodified columns, so the conditional sums are exactly
        # the old four counts)
        is_upd = F.col("user_id") == MERGE_UPDATE_USER
        is_ins = F.col("user_id") == MERGE_INSERT_USER
        pre = fact.agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(
                (is_upd & (F.pmod("event_id", F.lit(3)) == 0)).cast(
                    "long"
                )
            ).alias("n_deletes"),
            F.sum(
                (is_ins & (F.col("played_hour") < 12)).cast("long")
            ).alias("n_inserts"),
            F.sum(is_ins.cast("long")).alias("n_ins_total"),
        ).collect()[0]
        n_before = int(pre["n_before"])
        n_deletes = int(pre["n_deletes"] or 0)
        n_inserts = int(pre["n_inserts"] or 0)
        n_skipped = int(pre["n_ins_total"] or 0) - n_inserts
        _require(n_deletes >= 1, "delete arm matched no row")
        _require(n_inserts >= 1, "insert arm admitted no row")
        _require(n_skipped >= 1, "insert condition filtered no row")
        merge_rows(
            spark,
            cw,
            "fact",
            matched_src.unionByName(insert_src),
            "event_id",
            "1",
            when_matched=[
                matched_delete(
                    F.pmod(F.col("s.event_id"), F.lit(3)) == 0
                ),
                matched_update(
                    assignments={
                        "value": F.col("t.value") + F.col("s.value")
                    }
                ),
            ],
            when_not_matched=[
                not_matched_insert(F.col("s.played_hour") < 12)
            ],
        )
        out = read_table(spark, cw, "fact")
        # accounting proof ∥ output materialization — both read the
        # post-merge snapshot read-only (§2.6)
        from spark_spotify.functions.concurrency import overlap

        n_after, out = overlap(
            out.count, lambda: stable_checkpoint(out)
        )
        _require(
            n_after == n_before - n_deletes + n_inserts,
            "MERGE row accounting: -deletes +conditional inserts",
        )
        return out
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def q_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM gate — the retention story ``compact_table`` promises
    (its docstring: small files "become garbage collectable once
    unreferenced") made real.  Replays the warehouse's commit history in
    an isolated dir — v1 = the batch-1 snapshot, v2 = the live two-batch
    list, v3 = the compacted rewrite — then vacuums retaining only {v1,
    live}: the batch-2 append-era parts (referenced solely by the dropped
    v2) are deleted from disk, while time travel to the retained v1 still
    replays the batch-1 snapshot byte-for-byte and the live compacted
    table is untouched.  Oracle: the unchanged single-shot star join (GC
    must not change a single logical row)."""
    import shutil
    import tempfile

    warehouse, v1 = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_vac_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", v1)  # version 1: the batch-1 snapshot
        _swing(cw, "fact", parts)  # version 2: live pre-compaction
        compact_table(spark, cw, "fact", "1")  # version 3: ["c1"]
        n_v1_before = read_table(spark, cw, "fact", version=1).count()
        removed = vacuum_table(cw, "fact", retain_versions={1})
        batch2 = sorted(p for p in parts if p not in set(v1))
        _require(removed == batch2, (removed, batch2))
        for p in batch2:
            _require(
                not os.path.exists(os.path.join(cw, "fact", p)),
                f"vacuum left unreferenced part {p}",
            )
        for p in list(v1) + ["c1"]:
            _require(
                os.path.exists(os.path.join(cw, "fact", p)),
                f"vacuum removed retained part {p}",
            )
        n_v1_after = read_table(spark, cw, "fact", version=1).count()
        _require(n_v1_after == n_v1_before, (n_v1_after, n_v1_before))
        return read_table(spark, cw, "fact").transform(stable_checkpoint)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


RENAME_OLD, RENAME_NEW = "time_period", "day_part"


def q_schema_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-additive schema evolution — column RENAME as a metadata-only
    commit (Delta column mapping).  The gate asserts the three properties
    that make it a rename and not a rewrite: zero data files change (the
    commit adds exactly one manifest), the live read surfaces the new
    logical name, and time travel to the pre-rename version still shows
    the old name.  Oracle: the star join with the column aliased to its
    new name."""
    import shutil
    import tempfile

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_ren_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", parts)
        before = set(os.listdir(os.path.join(cw, "fact")))
        rename_column(cw, "fact", RENAME_OLD, RENAME_NEW)
        after = set(os.listdir(os.path.join(cw, "fact")))
        _require(
            after == before | {f"{_MANIFEST_PREFIX}2"},
            "rename must be metadata-only",
        )
        old = read_table(spark, cw, "fact", version=1)
        _require(RENAME_OLD in old.columns, old.columns)
        out = read_table(spark, cw, "fact")
        _require(
            RENAME_NEW in out.columns and RENAME_OLD not in out.columns,
            out.columns,
        )
        return stable_checkpoint(out)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


DROP_COL = "is_weekend"


def q_schema_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DROP COLUMN as a metadata-only commit — the complement of
    q_schema_rename, completing Delta column mapping.  Asserts the same
    three properties: zero data files change (the commit adds exactly
    one manifest), the live read no longer surfaces the column, and time
    travel to the pre-drop version still shows it.  The drop goes
    through the LOGICAL name after a rename (rename time_period →
    day_part first, then drop is_weekend — proving the two mapping
    halves compose in one table history).  Oracle: the star join without
    the dropped column, with the rename applied."""
    import shutil
    import tempfile

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_drop_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", parts)
        rename_column(cw, "fact", RENAME_OLD, RENAME_NEW)  # v2
        before = set(os.listdir(os.path.join(cw, "fact")))
        drop_column(cw, "fact", DROP_COL)  # v3
        after = set(os.listdir(os.path.join(cw, "fact")))
        _require(
            after == before | {f"{_MANIFEST_PREFIX}3"},
            "drop must be metadata-only",
        )
        pre = read_table(spark, cw, "fact", version=2)
        _require(DROP_COL in pre.columns, pre.columns)
        out = read_table(spark, cw, "fact")
        _require(
            DROP_COL not in out.columns and RENAME_NEW in out.columns,
            out.columns,
        )
        return stable_checkpoint(out)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def q_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition SPEC EVOLUTION — the Iceberg hallmark (Spec Evolution,
    iceberg.apache.org/docs/latest/evolution): the table changes its
    physical partitioning for FUTURE commits without rewriting a byte of
    history.  The batch-1 parts keep their legacy unpartitioned layout;
    the batch-2 delta commits hive-partitioned by ``date_key`` under the
    NEW spec (recorded per-part in the manifest); a snapshot read unions
    the two generations transparently (schema-stable — partition columns
    are restored as data columns).  The gate then PROVES the payoff from
    the optimized plan: a day-predicate probe carries a directory-level
    ``PartitionFilters`` entry on the evolved scan — the pruning class
    the legacy layout can only approximate with footer stats.  At 100 TB
    evolving a spec costs ONE manifest write where a re-partitioning
    rewrite would be a full-table job; that asymmetry is why Iceberg
    tables survive layout mistakes.

    Oracle: the unchanged single-shot star join (spec evolution must not
    change a single logical row)."""
    import re
    import shutil
    import tempfile

    warehouse, v1 = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    if not v1:
        return read_table(spark, warehouse, "fact").limit(0)
    batch2 = [p for p in parts if p not in set(v1)]
    cw = tempfile.mkdtemp(prefix="spark_spotify_pse_")
    try:
        _link_fact_into(warehouse, v1, cw)
        _swing(cw, "fact", list(v1))  # v1: legacy unpartitioned spec
        delta = read_parquet(
            spark, *[os.path.join(warehouse, "fact", p) for p in batch2]
        )
        delta.write.partitionBy("date_key").parquet(
            os.path.join(cw, "fact", "q2")
        )
        _swing(
            cw,
            "fact",
            list(v1) + ["q2"],
            specs={"q2": ["date_key"]},
        )
        out = read_table(spark, cw, "fact")
        _require(
            out.columns == read_table(spark, cw, "fact", version=1).columns,
            "mixed-spec read must be schema-stable",
        )
        probe_day = delta.agg(F.min("date_key")).collect()[0][0]
        probe = out.filter(F.col("date_key") == F.lit(probe_day))
        plan = probe._sc._jvm.PythonSQLUtils.explainString(
            probe._jdf.queryExecution(), "formatted"
        )
        _require(
            re.search(r"PartitionFilters: \[[^\]]*date_key", plan)
            is not None,
            "evolved scan must prune on the partition directory",
        )
        return stable_checkpoint(out)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def wap_publish(
    spark: SparkSession,
    warehouse: str,
    table: str,
    staged_parts: list[str],
    key: str = "event_id",
    max_retries: int = 5,
) -> bool:
    """Write-audit-publish — the Iceberg WAP / Delta staging pattern: a
    delta is WRITTEN as unpublished part dirs, AUDITED against the live
    snapshot, and PUBLISHED by a single CAS manifest swing only if the
    audit passes.  A failed audit leaves the table bit-identical (the
    staged parts are simply never referenced — vacuum reclaims them);
    readers can never observe un-audited data because visibility IS the
    manifest.

    Audit here = ingestion contract for a keyed append: no NULL keys, no
    duplicate keys WITHIN the staged delta (at-least-once redelivery can
    land twice in one staging), and no keys already published.  Three
    short-circuiting jobs (``limit(1)`` existence probes); at 100 TB the
    published-side membership probe is the same partition/bucket-pruned
    anti-join shape as the MERGE path, O(staged) not O(table).

    Stage parts under a ``_stage_`` name prefix to make them invisible
    to a concurrently running ``vacuum_table`` (which reclaims only
    un-prefixed unreferenced dirs); publish PROMOTES them by renaming to
    the permanent (prefix-stripped) name before the manifest swing.
    Un-prefixed staged names also publish, but are then racing vacuum.

    Concurrency: promotion targets are validated against the disk AND
    every retained manifest BEFORE any rename (a mid-loop collision
    would strand a half-promoted staging), and a losing CAS swing
    restores the ``_stage_`` names and RE-RUNS the audit against the
    winner's snapshot — the winner may have published overlapping keys,
    so a blind swing retry would break the uniqueness contract.  After
    ``max_retries`` lost races the staging is left intact (still
    vacuum-fenced) and the conflict propagates.
    Returns True iff published."""
    if not staged_parts:
        return True
    tdir = os.path.join(warehouse, table)
    final_of = {
        p: (p[len("_stage_"):] if p.startswith("_stage_") else p)
        for p in staged_parts
    }
    for _ in range(max_retries):
        ver = _current_version(warehouse, table)
        # validate EVERY promotion target at the top of EACH attempt —
        # not just once before the loop: after a lost CAS race the
        # winner may have committed a part under a colliding name, and
        # a mid-loop os.rename onto an existing directory would strand
        # a half-promoted staging.  Raising here is clean: all parts
        # are still staged (the previous attempt un-promoted on loss).
        retained = {
            p
            for v in _versions(warehouse, table)
            for p in (_manifest(warehouse, table, v) or [])
        }
        for p, name in final_of.items():
            _require(
                name == p
                or (
                    name not in retained
                    and not os.path.exists(os.path.join(tdir, name))
                ),
                f"promotion target {name!r} collides with an existing part",
            )
        staged = read_parquet(
            spark, *[os.path.join(tdir, p) for p in staged_parts]
        )
        # the audit's probes — null key, intra-staging duplicate,
        # CHECK/generated violation, already-published key — are
        # independent read-only jobs over the staged delta; run them as
        # ONE overlap group (§2.6) instead of four sequential
        # short-circuiting probes.  The audit VERDICT is identical
        # (publish iff every probe is clean); the only trade is that a
        # FAILING audit now pays all probes instead of stopping at the
        # first — failed audits are the rare path, and each probe is
        # still a limit(1) short-circuit job.
        from spark_spotify.functions.concurrency import overlap

        probes = [
            lambda: staged.filter(F.col(key).isNull())
            .limit(1)
            .count(),
            lambda: staged.groupBy(key)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .limit(1)
            .count(),
        ]
        # table CHECK constraints are part of the audit: WAP is the one
        # commit path that doesn't go through _enforce_constraints, and
        # an un-audited constraint violation must fail the publish (the
        # staging stays intact for inspection, like any failed audit)
        m_cur = _read_manifest_file(warehouse, table, ver) if ver else None
        if m_cur and (m_cur["constraints"] or m_cur["generated"]):
            chk = staged
            if m_cur["drops"]:
                chk = chk.drop(*m_cur["drops"])
            for phys, logical in m_cur["renames"].items():
                chk = chk.withColumnRenamed(phys, logical)
            checks = dict(m_cur["constraints"])
            missing_generated = False
            for gcol, gexpr in m_cur["generated"].items():
                # a staged part MISSING a generated column fails the
                # audit: the bytes are already written, so it cannot be
                # materialized post-hoc the way _commit_append does
                if gcol not in chk.columns:
                    missing_generated = True
                    break
                checks[f"generated:{gcol}"] = f"{gcol} <=> ({gexpr})"
            if missing_generated:
                return False
            if checks:
                probes.append(
                    lambda chk=chk, checks=checks: chk.filter(
                        _violation_filter(checks)
                    )
                    .limit(1)
                    .count()
                )
        published = read_table(spark, warehouse, table, version=ver or None)
        if published is not None:
            probes.append(
                lambda: staged.join(
                    published.select(key), key, "left_semi"
                )
                .limit(1)
                .count()
            )
        if any(n > 0 for n in overlap(*probes)):
            return False
        promoted = []
        for p in staged_parts:
            name = final_of[p]
            if name != p:
                os.rename(
                    os.path.join(tdir, p), os.path.join(tdir, name)
                )
                promoted.append((p, name))
        try:
            _swing(
                warehouse,
                table,
                (_manifest(warehouse, table) or []) + list(final_of.values()),
                expected_version=ver,
            )
            return True
        except CommitConflictError:
            # lost the race: un-promote so the delta stays staged (still
            # vacuum-fenced, still retryable), then re-audit vs the winner
            for p, name in promoted:
                os.rename(
                    os.path.join(tdir, name), os.path.join(tdir, p)
                )
    raise CommitConflictError(
        f"{table}: publish lost {max_retries} consecutive commit races"
    )


def q_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAP gate: publish batch 1, STAGE two deltas against it — a
    poisoned one (re-delivered already-published rows, the at-least-once
    failure WAP exists to catch) and the clean batch-2 delta — and assert
    the audit rejects the first (manifest untouched) and publishes the
    second atomically.  Oracle: the unchanged single-shot star join (the
    published end state is exactly the two-batch table; the poisoned
    staging must leave zero trace in it)."""
    import shutil
    import tempfile

    warehouse, v1 = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    batch2 = [p for p in parts if p not in set(v1)]
    cw = tempfile.mkdtemp(prefix="spark_spotify_wap_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", list(v1))  # published snapshot = batch 1
        poison = read_table(spark, cw, "fact").limit(50)
        poison.coalesce(1).write.parquet(
            os.path.join(cw, "fact", "_stage_bad")
        )
        _require(
            not wap_publish(spark, cw, "fact", ["_stage_bad"]),
            "audit must reject re-delivered rows",
        )
        _require(
            _manifest(cw, "fact") == list(v1),
            "failed audit must leave the published snapshot untouched",
        )
        # stage the clean delta under the vacuum-fenced prefix; publish
        # must PROMOTE the parts to their permanent names
        staged = []
        for p in batch2:
            os.rename(
                os.path.join(cw, "fact", p),
                os.path.join(cw, "fact", f"_stage_{p}"),
            )
            staged.append(f"_stage_{p}")
        _require(
            wap_publish(spark, cw, "fact", staged),
            "clean delta must publish",
        )
        _require(
            _manifest(cw, "fact") == list(v1) + batch2,
            "publish must promote the staged parts, atomically appended",
        )
        return read_table(spark, cw, "fact").transform(stable_checkpoint)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


CLUSTER_PARTS = 8


def q_cluster_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered rewrite + footer-stat pruning proof — the OPTIMIZE
    ZORDER-lite that makes key-predicate deletes/filters O(1 part): the
    fact table is rewritten ``repartitionByRange(user_id)`` into one part
    per range (a REWRITE commit, rows unchanged), the gate then PROVES
    from the parquet FOOTERS alone (pyarrow metadata read, no Spark job)
    that per-part user_id ranges are pairwise disjoint, and demonstrates
    the payoff: a single-user GDPR delete's discovery now flags exactly
    ONE affected part, so the rewrite phase touches 1/{CLUSTER_PARTS} of
    the table.  At 100 TB this is the difference between a delete that
    rewrites ~everything and one that rewrites a few files — the reason
    Delta/Iceberg cluster on the delete/join key.

    Oracle: the star join minus the deleted subject (same as
    etl_row_delete — clustering must not change a single logical row)."""
    import glob as _glob
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_clu_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", parts)
        # REWRITE commit: range-cluster on user_id, one file per range,
        # then promote each file to its own part so the manifest (and
        # delete_rows' part granularity) sees the clustering
        tmp = os.path.join(cw, "_cluster_out")
        (
            read_table(spark, cw, "fact")
            .repartitionByRange(CLUSTER_PARTS, "user_id")
            .sortWithinPartitions("user_id")
            .write.parquet(tmp)
        )
        new_parts = []
        for i, f in enumerate(
            sorted(_glob.glob(os.path.join(tmp, "*.parquet")))
        ):
            pdir = os.path.join(cw, "fact", f"cl{i}")
            os.makedirs(pdir)
            os.rename(f, os.path.join(pdir, os.path.basename(f)))
            new_parts.append(f"cl{i}")
        _swing(cw, "fact", new_parts)
        # footer proof: per-part user_id min/max pairwise disjoint —
        # driver-side metadata only, the stats a 100 TB planner prunes on
        ranges = []
        for p in new_parts:
            for f in _glob.glob(os.path.join(cw, "fact", p, "*.parquet")):
                md = pq.ParquetFile(f).metadata
                if md.num_rows == 0:
                    continue  # an empty range partition carries no stats
                idx = {
                    md.schema.column(i).name: i
                    for i in range(len(md.schema))
                }["user_id"]
                los, his = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    _require(st is not None, f"no stats in {f}")
                    los.append(st.min)
                    his.append(st.max)
                ranges.append((min(los), max(his), p))
        ranges.sort()
        for (_, hi_a, a), (lo_b, _, b) in zip(ranges, ranges[1:]):
            _require(hi_a < lo_b, f"ranges overlap: {a} vs {b}")
        # the payoff: a point delete's discovery flags exactly ONE part
        n_affected = delete_rows(
            spark, cw, "fact", F.col("user_id") == DELETE_USER, "c"
        )
        _require(
            n_affected == 1,
            f"clustered point delete touched {n_affected} parts",
        )
        return read_table(spark, cw, "fact").transform(stable_checkpoint)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


Z_GRID_BITS = 5  # both dims normalized to a 32-cell grid before interleave


def _zorder_expr(u_bucket: str, d_bucket: str) -> F.Column:
    """Bit-interleave two {Z_GRID_BITS}-bit bucket expressions into a
    Z-value — one generated SQL string, evaluated in whole-stage
    codegen."""
    terms = []
    for i in range(Z_GRID_BITS):
        terms.append(
            f"shiftleft((shiftright({u_bucket}, {i}) & 1), {2 * i})"
        )
        terms.append(
            f"shiftleft((shiftright({d_bucket}, {i}) & 1), {2 * i + 1})"
        )
    return F.expr(" + ".join(terms))


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional Z-ORDER clustering — what single-key range
    clustering (etl_cluster_layout) cannot do: bound the footer min/max
    of TWO columns at once, so point predicates on EITHER dimension prune
    most parts.  user_id and event day are min-max normalized onto a
    32-cell grid, bit-interleaved into a Z-value, and the table is
    rewritten range-partitioned on Z (a REWRITE commit; the Z column is
    dropped before write — it exists only to order the layout, exactly
    like Delta ZORDER BY).

    The gate then proves the pruning payoff from the parquet FOOTERS
    alone: BOTH dimensions individually skip at least one part (the
    single-key layout can never skip on its second key), and a
    two-predicate point query (user AND day) provably skips >=50% of
    parts — the multi-dim property.  At 100 TB those footer checks are
    the planner's file-skipping index; Z-order is why a two-predicate
    query reads ~sqrt instead of ~all of the files.

    Oracle: the unchanged single-shot star join (layout only)."""
    import glob as _glob
    import shutil
    import tempfile

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    parts = _manifest(warehouse, "fact") or []
    cw = tempfile.mkdtemp(prefix="spark_spotify_zo_")
    try:
        _link_fact_into(warehouse, parts, cw)
        _swing(cw, "fact", parts)
        df = read_table(spark, cw, "fact")
        # min-max normalize both dims to the grid (one tiny agg job —
        # at scale these bounds come from table-level stats)
        b = df.agg(
            F.min("user_id").alias("ulo"), F.max("user_id").alias("uhi")
        ).collect()[0]
        span = max(int(b["uhi"]) - int(b["ulo"]), 0) + 1
        cells = 1 << Z_GRID_BITS
        ub = f"cast((user_id - {int(b['ulo'])}) * {cells} / {span} as int)"
        db = f"cast(((date_key % 100) - 1) % {cells} as int)"
        tmp = os.path.join(cw, "_zorder_out")
        (
            df.withColumn("_z", _zorder_expr(ub, db))
            .repartitionByRange(CLUSTER_PARTS, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.parquet(tmp)
        )
        new_parts = []
        for i, f in enumerate(
            sorted(_glob.glob(os.path.join(tmp, "*.parquet")))
        ):
            pdir = os.path.join(cw, "fact", f"z{i}")
            os.makedirs(pdir)
            os.rename(f, os.path.join(pdir, os.path.basename(f)))
            new_parts.append(f"z{i}")
        _swing(cw, "fact", new_parts)
        # the pruning proof now runs through the engine's own planner:
        # _swing denormalized the footer stats into the manifest, so
        # prune_parts answers every probe with ZERO file I/O — the same
        # metadata path a 100 TB point query plans through
        pstats = _read_manifest_file(
            cw, "fact", _current_version(cw, "fact")
        )["stats"]
        nonempty = [
            p for p in new_parts if pstats[p]["user_id"]["n"] > 0
        ]
        n = len(nonempty)
        # a mid date_key that some part contains — index the DISTINCT
        # minima list by its own length (parts may share minima)
        day_minima = sorted(
            {pstats[p]["date_key"]["lo"] for p in nonempty}
        )
        probe_day = int(day_minima[len(day_minima) // 2])
        kept_u, _ = prune_parts(
            cw, "fact", [("user_id", "=", DELETE_USER)]
        )
        kept_d, _ = prune_parts(
            cw, "fact", [("date_key", "=", probe_day)]
        )
        kept_both, _ = prune_parts(
            cw,
            "fact",
            [("user_id", "=", DELETE_USER), ("date_key", "=", probe_day)],
        )
        _require(len(kept_u) < n, "no part is user-prunable")
        _require(len(kept_d) < n, "no part is day-prunable")
        _require(
            n - len(kept_both) >= n * 0.5,
            f"two-predicate pruning too weak: kept {len(kept_both)}/{n}",
        )
        return read_table(spark, cw, "fact").transform(stable_checkpoint)
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def q_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats file skipping, end to end — the read-path payoff of
    the per-part column stats :func:`_swing` denormalizes into every
    commit (Delta's ``dataSkippingNumIndexedCols`` story): events are
    committed as FOUR appends clustered on epoch day (contiguous quarters
    of the day span — the layout a date-ordered ingest produces
    naturally), then the classic warehouse query — "aggregate the most
    recent quarter of the history" — plans from the MANIFEST ALONE:
    :func:`prune_parts` proves the earlier parts cannot satisfy
    ``d >= cut`` with zero footer or data I/O, the scan opens exactly one
    part (gate-required), and the predicate is still applied to the
    survivors so correctness never rests on the pruning.  At 100 TB this
    is the difference between a last-day rollup that reads the whole
    history and one that reads yesterday's files.

    Oracle: the same last-quarter aggregate stated directly over events
    with identical integer epoch-day arithmetic."""
    import shutil
    import tempfile

    from spark_spotify.functions.agg import lsum

    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.datediff(
            F.to_date("ts"), F.to_date(F.lit("1970-01-01"))
        ).alias("d"),
    )
    b = events.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    ).collect()[0]
    lo, hi = int(b["lo"]), int(b["hi"])
    span = hi - lo + 1
    bounds = [lo + span * k // 4 for k in range(4)] + [hi + 1]
    cut = bounds[3]
    w = tempfile.mkdtemp(prefix="spark_spotify_skip_")
    try:
        for k in range(4):
            _commit_append(
                events.filter(
                    (F.col("d") >= bounds[k]) & (F.col("d") < bounds[k + 1])
                ),
                w,
                "events",
                k + 1,
            )
        kept, m = prune_parts(w, "events", [("d", ">=", cut)])
        _require(
            kept == ["p4"],
            f"skipping failed: kept {kept} of {m['parts']}",
        )
        out = (
            read_table_where(spark, w, "events", [("d", ">=", cut)])
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                lsum(F.col("value")).alias("total_value"),
            )
        )
        return out.transform(stable_checkpoint)
    finally:
        shutil.rmtree(w, ignore_errors=True)


def q_change_feed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level Change Data Feed — Delta CDF semantics over the
    versioned warehouse: the change rows BETWEEN two committed versions
    of the keyed-merge stats table (v1 = after batch 1, live = after
    batch 2), classified as ``insert`` (key only in the later version),
    ``update_preimage``/``update_postimage`` (key in both, any column
    changed — both sides emitted, as Delta does), or ``delete`` (absent
    here by construction, emitted for completeness).  Part-list CDC
    (etl_snapshot_diff) answers "which files changed"; this answers the
    consumer question — "which ROWS changed, from what to what" — the
    feed an incremental downstream aggregate or cache invalidation
    subscribes to.

    The diff itself is a single full-outer join on the merge key between
    two snapshot reads — O(keys), and for a COW keyed-merge table at
    100 TB the join prunes to the partitions the commit actually rewrote
    (named by the manifest diff), so the feed costs O(changed
    partitions), not O(table).

    Equality is null-safe per column; the stats columns are exact
    (counts / exact-decimal sums / deterministic argmax), so changed-ness
    is engine-portable and the oracle recomputes the identical feed from
    the two event universes.  (At fixture SFs the mid-span cut happens to
    land in the last ~80 s of a day, so the feed is insert-only here; the
    update/delete branches are exercised by
    ``tests/test_pipeline.py::test_change_feed_classifies_all_types``.)"""
    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    s1 = read_table(spark, warehouse, "agg_daily_stats", version=1)
    s2 = read_table(spark, warehouse, "agg_daily_stats")
    return change_feed(s1, s2, "played_date")


def change_feed(s1: DataFrame, s2: DataFrame, key: str) -> DataFrame:
    """Row-level diff of two keyed snapshots as Delta-CDF change rows:
    one full-outer join on ``key``, null-safe per-column comparison, four
    classified projections.  Join MISSES are detected via per-side
    presence markers, not key nullness — a NULL key present in both
    snapshots pairs up under ``eqNullSafe`` and must classify as
    update/unchanged, not as a spurious insert+delete."""
    from functools import reduce

    cols = s2.columns
    a = s1.select(
        [F.col(c).alias(f"a_{c}") for c in cols]
        + [F.lit(True).alias("a_present")]
    )
    b = s2.select(
        [F.col(c).alias(f"b_{c}") for c in cols]
        + [F.lit(True).alias("b_present")]
    )
    j = a.join(
        b, F.col(f"a_{key}").eqNullSafe(F.col(f"b_{key}")), "full_outer"
    )
    changed = reduce(
        lambda x, y: x | y,
        [
            ~F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))
            for c in cols
            if c != key
        ],
    )

    def side(prefix: str, ctype: str, cond) -> DataFrame:
        return j.filter(cond).select(
            F.lit(ctype).alias("_change_type"),
            *[F.col(f"{prefix}_{c}").alias(c) for c in cols],
        )

    only_new = F.col("a_present").isNull()
    only_old = F.col("b_present").isNull()
    both_changed = ~only_new & ~only_old & changed
    return (
        side("b", "insert", only_new)
        .unionByName(side("a", "delete", only_old))
        .unionByName(side("a", "update_preimage", both_changed))
        .unionByName(side("b", "update_postimage", both_changed))
    )


def apply_change_feed(base: DataFrame, feed: DataFrame, key: str) -> DataFrame:
    """The CONSUMER side of the change feed — replay CDF rows onto a
    replica snapshot: drop the keys the feed deletes or updates (one
    null-safe anti-join on the touched-key set, O(changes) — AQE
    broadcasts it when delta-sized), then union the ``insert`` and
    ``update_postimage`` rows.  This is how a downstream materialized
    view / cache / search index stays in sync reading ONLY the feed,
    never rescanning the source table: replay cost is O(changes)
    regardless of replica size.  Inverse-pair property with
    :func:`change_feed` — ``apply(s1, feed(s1, s2)) == s2`` for any two
    keyed snapshots (property-tested)."""
    cols = base.columns
    touched = (
        feed.filter(
            F.col("_change_type").isin("delete", "update_preimage")
        )
        .select(F.col(key).alias("_touched_key"))
        .distinct()
    )
    kept = base.join(
        touched,
        F.col(key).eqNullSafe(F.col("_touched_key")),
        "left_anti",
    )
    additions = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(*cols)
    return kept.unionByName(additions)


def delta_apply_mv(mv_prev: DataFrame, feed: DataFrame, key: str) -> DataFrame:
    """Pure O(feed) incremental maintenance of a DISTRIBUTIVE
    materialized view (``GROUP BY key → SUM(value), COUNT(*)``) from a
    row-level change feed — the signed-delta half of incremental view
    maintenance that :func:`refresh_daily_stats` deliberately does NOT
    do (its rollup mixes in COUNT DISTINCT / argmax, which are not
    snapshot-associative; this verb is for the views that ARE).  Feed
    rows carry +1 (``insert``, ``update_postimage``) or −1 (``delete``,
    ``update_preimage``); the per-group signed sums fold into the
    previous MV with ONE delta-sized aggregation and one join against
    the (group-cardinality-sized) MV — the base table is NEVER
    rescanned, so maintenance cost is independent of base size: the
    posture a 100 TB fact with a trickle feed requires.  A group whose
    maintained count reaches zero is RETIRED (its row vanishes — the
    case a key-upsert refresh gets wrong).  Float determinism: sums
    fold in the exact scaled-long domain (``lscale``), so
    maintained == recomputed bit-for-bit, not approximately.  Feed
    source-agnostic: :func:`change_feed`, :func:`row_lineage_feed`, or
    a CDC stream all produce the consumed shape.

    Precondition: a non-null ``value`` column.  SQL SUM skips NULLs,
    so a group whose rows are ALL null sums to NULL on recompute but
    to 0 here (the coalesce in the fold) — supporting that case would
    need a per-group non-null count carried in the view.  The
    warehouse's silver contract already excludes null metrics; the
    guard documents the boundary rather than hiding it."""
    from spark_spotify.functions.agg import lscale, unscale

    # a malformed/future change type must FAIL the maintenance job, not
    # silently fold as a delete and corrupt the view (ADVICE r7)
    sign = (
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        )
        .when(
            F.col("_change_type").isin("delete", "update_preimage"),
            F.lit(-1),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("delta_apply_mv: unknown _change_type "),
                    F.col("_change_type"),
                )
            ).cast("int")
        )
    )
    delta = feed.groupBy(key).agg(
        F.sum(sign * lscale(F.col("value"))).alias("_d_sum"),
        F.sum(sign.cast("long")).alias("_d_n"),
    )
    prev = mv_prev.select(
        F.col(key),
        lscale(F.col("sum_value")).alias("_p_sum"),
        F.col("n_events").alias("_p_n"),
    )
    z = F.lit(0).cast("long")
    merged = prev.join(delta, key, "full_outer").select(
        F.col(key),
        (F.coalesce("_p_sum", z) + F.coalesce("_d_sum", z)).alias("_s"),
        (F.coalesce("_p_n", z) + F.coalesce("_d_n", z)).alias("n_events"),
    )
    return merged.filter(F.col("n_events") > 0).select(
        key, unscale(F.col("_s"), 4).alias("sum_value"), "n_events"
    )


def q_mv_delta_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-delta MV maintenance gate: a per-user ``SUM(value),
    COUNT(*)`` view is maintained across a change feed containing ALL
    THREE change families — user {DELETE_USER} fully deleted (its
    group must RETIRE, not linger at zero), user {MERGE_UPDATE_USER}'s
    values doubled (update pre/post pairs cancel in the count, move
    the sum), user {MERGE_INSERT_USER}'s events re-delivered under
    fresh keys (inserts grow both) — by :func:`delta_apply_mv`, which
    reads ONLY the previous view and the feed.  Oracle: the
    from-scratch aggregate of the post-change corpus; maintained ==
    recomputed is the entire claim."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    from spark_spotify.functions.agg import lsum

    s1 = (
        ev.filter(
            ~F.col("user_id").isin(DELETE_USER, MERGE_UPDATE_USER)
        )
        .unionByName(
            ev.filter(F.col("user_id") == MERGE_UPDATE_USER).withColumn(
                "value", F.col("value") * 2
            )
        )
        .unionByName(
            ev.filter(F.col("user_id") == MERGE_INSERT_USER).withColumn(
                "event_id", -(F.col("event_id") + F.lit(1))
            )
        )
    )
    feed = change_feed(ev, s1, "event_id")
    mv0 = ev.groupBy("user_id").agg(
        lsum(F.col("value")).alias("sum_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    mv1 = delta_apply_mv(mv0, feed, "user_id")
    # group retirement, asserted in-line: the deleted user's row is
    # GONE from the maintained view (not present with zero count)
    _require(
        mv1.filter(F.col("user_id") == DELETE_USER).count() == 0,
        "retired group survived delta maintenance",
    )
    return mv1


def row_lineage_feed(
    spark: SparkSession,
    warehouse: str,
    table: str,
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Row-lineage change feed (Delta CDF + row tracking): the
    version-to-version diff keyed by the STABLE row id instead of a
    business key.  This is the contract incremental consumers actually
    want — UPDATE is distinguished from DELETE+INSERT across COW
    rewrites, OPTIMIZE and deletion-vector commits WITHOUT requiring a
    unique user key, because the id survives every physical rewrite
    (``_scan_with_row_ids``).  A pure layout change (compaction)
    produces an EMPTY feed; a key-less table still gets exact
    per-row lineage.  Requires row tracking at both versions."""
    s1 = read_table_with_row_ids(spark, warehouse, table, v_from)
    s2 = read_table_with_row_ids(spark, warehouse, table, v_to)
    return change_feed(s1, s2, "row_id")


def q_cdf_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-lineage CDF gate: a tracked two-part table goes through a
    COW delete (user {DELETE_USER}), a COW MERGE (user
    {MERGE_UPDATE_USER} updated, user {MERGE_INSERT_USER} re-keyed
    inserts) and a whole-table compaction; the row-id-keyed feed
    between the pre-delete snapshot and the head must classify exactly
    deletes/updates/inserts — NO churn rows from the rewrites (a
    drifted id would surface as a spurious delete+insert pair, asserted
    in-line) — and replaying it onto the old snapshot reconstructs the
    head.  Oracle: the from-scratch recompute of the head state."""
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    w = tempfile.mkdtemp(prefix="spark_spotify_rowcdf_")
    try:
        # the two-commit table build mutates only the warehouse while
        # the expected-cardinality agg reads only the SOURCE relation —
        # independent job chains, overlapped (§2.6)
        def _build() -> None:
            _commit_append(
                ev.filter(F.col("event_id") % 2 == 0), w, "t", 1
            )
            _commit_append(
                ev.filter(F.col("event_id") % 2 == 1), w, "t", 2
            )
            enable_row_tracking(w, "t")

        _, expected = overlap(
            _build,
            lambda: ev.agg(
                *[
                    F.count(F.when(F.col("user_id") == u, 1)).alias(k)
                    for k, u in (
                        ("d", DELETE_USER),
                        ("u", MERGE_UPDATE_USER),
                        ("i", MERGE_INSERT_USER),
                    )
                ]
            ).collect()[0],
        )
        v0 = _current_version(w, "t")
        n_del, n_upd, n_ins = expected["d"], expected["u"], expected["i"]
        delete_rows(spark, w, "t", F.col("user_id") == DELETE_USER, "d1")
        live = read_table(spark, w, "t")
        src = (
            live.filter(F.col("user_id") == MERGE_UPDATE_USER)
            .withColumn("value", F.col("value") * 2)
            .unionByName(
                live.filter(
                    F.col("user_id") == MERGE_INSERT_USER
                ).withColumn("event_id", -(F.col("event_id") + F.lit(1)))
            )
        )
        merge_rows(spark, w, "t", src, "event_id", "1")
        compact_table(spark, w, "t", "z")
        feed = row_lineage_feed(spark, w, "t", v0)
        counts = {
            r["_change_type"]: r["n"]
            for r in feed.groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # the physics claim: rewrites (COW delete part, MERGE part,
        # whole-table compaction) contribute ZERO feed rows — only the
        # logical changes appear, each under its stable id
        _require(
            counts.get("delete", 0) == n_del
            and counts.get("update_preimage", 0) == n_upd
            and counts.get("update_postimage", 0) == n_upd
            and counts.get("insert", 0) == n_ins,
            f"row-lineage feed shows rewrite churn: {counts} vs "
            f"del={n_del} upd={n_upd} ins={n_ins}",
        )
        s0 = read_table_with_row_ids(spark, w, "t", v0)
        recon = apply_change_feed(s0, feed, "row_id").drop("row_id")
        return stable_checkpoint(recon)
    finally:
        shutil.rmtree(w, ignore_errors=True)


def q_cdf_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF round-trip gate: compute the change feed between the stats
    table's v1 and live snapshots, replay it onto the v1 REPLICA, and
    return the reconstructed table — which must equal the live snapshot
    exactly (oracle: the full daily-stats SQL).  Closes the CDC loop that
    etl_snapshot_diff (file-level) and etl_change_feed_rows (row-level
    producer) opened: producer and consumer compose to an O(changes)
    replication protocol over the versioned warehouse."""
    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    s1 = read_table(spark, warehouse, "agg_daily_stats", version=1)
    s2 = read_table(spark, warehouse, "agg_daily_stats")
    feed = change_feed(s1, s2, "played_date")
    return stable_checkpoint(
        apply_change_feed(s1, feed, "played_date")
    )


def refresh_daily_stats(
    spark: SparkSession,
    stats_prev: DataFrame,
    feed: DataFrame,
    bronze_live: DataFrame,
) -> DataFrame:
    """Incremental materialized-view maintenance of the daily-stats gold
    table from a row-level change feed — the composition Delta CDF
    exists to enable (and the standalone-consumer form of the
    reference's update_daily_stats, daily_etl_pipeline.py:509-586, which
    could only refresh inside its own write path):

    1. the TOUCHED date set is read from the feed — O(changes), the
       only thing the feed is scanned for;
    2. touched dates are recomputed from the live bronze pruned by a
       broadcast semi-join on that set — on a date-partitioned table
       this is partition pruning, so the scan is O(touched partitions),
       independent of table size and of how many versions of history
       exist;
    3. untouched dates keep their PREVIOUS gold rows byte-for-byte (an
       anti-join on the same broadcast set — they are provably never
       recomputed, see test_refresh_daily_stats_untouched_rows_not_recomputed).

    A date whose rows were ALL deleted lands in the touched set but
    yields no recomputed row, so its stale gold row correctly vanishes —
    the case a plain key-upsert (merge_upsert) gets wrong.

    Why not pure O(feed) delta application?  total_events/total_value/
    period counts are distributive and could add signed deltas straight
    from the feed, but unique_users, unique_event_types (COUNT DISTINCT)
    and top_event_type (argmax) are not snapshot-associative: exact
    maintenance needs per-(date, user) auxiliary state, approximate
    needs an HLL sketch column.  Recomputing only the touched partitions
    is the exact answer at O(touched partitions) cost — the shape every
    production incremental-model framework (dbt incremental, Iceberg
    partial overwrite) converges on for mixed-distributivity rollups."""
    touched = feed.select(
        F.to_date("ts").alias("played_date")
    ).distinct()
    recomputed = daily_stats(
        bronze_live.join(
            F.broadcast(touched),
            F.to_date("ts") == F.col("played_date"),
            "left_semi",
        )
    )
    kept = stats_prev.join(F.broadcast(touched), "played_date", "left_anti")
    return kept.unionByName(recomputed)


def q_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-refresh gate: reconstruct the LIVE daily-stats table
    from the v1 snapshot plus the bronze change feed between v1 and
    live, never recomputing untouched dates.  Oracle: the from-scratch
    daily-stats SQL over the full corpus — incremental == recompute is
    the entire claim."""
    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    b1 = read_table(spark, warehouse, "bronze", version=1)
    b2 = read_table(spark, warehouse, "bronze")
    feed = change_feed(b1, b2, "event_id")
    stats_v1 = read_table(spark, warehouse, "agg_daily_stats", version=1)
    return stable_checkpoint(
        refresh_daily_stats(spark, stats_v1, feed, b2)
    )


def q_cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply-with-tombstones — the composition the full MERGE
    grammar exists for: a row-level change feed (insert /
    update_postimage / delete, produced by :func:`change_feed` between
    the stats table's v1 and live snapshots) is applied to a REPLICA of
    v1 in ONE MERGE commit:

    - ``WHEN MATCHED AND s._change_type = 'delete' THEN DELETE``
    - ``WHEN MATCHED AND s._change_type = 'update_postimage' THEN
      UPDATE SET *``
    - ``WHEN NOT MATCHED AND s._change_type = 'insert' THEN INSERT *``

    ``_change_type`` is a condition-only source column — it never lands
    in the table (INSERT */SET * project the TARGET schema).  The
    reconstructed replica must equal the live snapshot exactly, so the
    oracle is the from-scratch daily-stats SQL — the same equality
    :func:`q_cdf_apply` proves with set algebra, now proven through the
    transactional MERGE verb a warehouse replica would actually use."""
    import shutil
    import tempfile

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    s1 = read_table(spark, warehouse, "agg_daily_stats", version=1)
    s2 = read_table(spark, warehouse, "agg_daily_stats")
    feed = change_feed(s1, s2, "played_date")
    cw = tempfile.mkdtemp(prefix="spark_spotify_cdc_")
    try:
        s1.coalesce(1).write.parquet(os.path.join(cw, "stats", "base"))
        _swing(cw, "stats", ["base"])
        src = feed.filter(F.col("_change_type") != "update_preimage")
        merge_rows(
            spark,
            cw,
            "stats",
            src,
            "played_date",
            "1",
            when_matched=[
                matched_delete(F.col("s._change_type") == "delete"),
                matched_update(
                    F.col("s._change_type") == "update_postimage"
                ),
            ],
            when_not_matched=[
                not_matched_insert(F.col("s._change_type") == "insert")
            ],
        )
        return stable_checkpoint(read_table(spark, cw, "stats"))
    finally:
        shutil.rmtree(cw, ignore_errors=True)


def q_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY over the manifest log — every committed version
    of the fact table with its snapshot row count, read purely from the
    retained manifests (each count is a parquet-footer-cheap scan of that
    version's part list; the log itself is O(versions) metadata).  The
    audit/debug surface every versioned table needs: which commit grew
    the table, when row counts moved.

    Zero Spark jobs: each version's row count is summed from the parquet
    FOOTERS of its part list (the stats Delta/Iceberg denormalize into
    the commit log itself; reading them from footers is the same
    metadata, one hop further).

    Oracle: version 1 is the batch-1 universe (events at or before the
    mid-span cut), version 2 the full corpus — the commit history IS the
    batch structure, so SQL can state it from the source table."""
    import glob as _glob

    import pyarrow.parquet as pq

    warehouse, _ = _shared_two_batch_warehouse(spark, sf_dir)
    rows = []
    for v in _versions(warehouse, "fact"):
        n = 0
        for p in _manifest(warehouse, "fact", v) or []:
            # recursive: spec-evolved parts keep their files under hive
            # partition subdirs (col=val/...), which a flat glob misses
            for f in _glob.glob(
                os.path.join(warehouse, "fact", p, "**", "*.parquet"),
                recursive=True,
            ):
                n += pq.ParquetFile(f).metadata.num_rows
        rows.append((v, n))
    return spark.createDataFrame(rows, "version int, n_rows bigint")


QUERIES = {
    "etl_incremental_pipeline": q_incremental_pipeline,
    "etl_snapshot_diff": q_snapshot_diff,
    "etl_time_travel": q_time_travel,
    "etl_time_travel_ts": q_time_travel_ts,
    "etl_compact": q_compact,
    "etl_optimize_small_files": q_optimize_small_files,
    "etl_schema_evolution": q_schema_evolution,
    "etl_schema_rename": q_schema_rename,
    "etl_schema_drop": q_schema_drop,
    "etl_type_widening": q_type_widening,
    "etl_bloom_skipping": q_bloom_skipping,
    "etl_bloom_maintenance": q_bloom_maintenance,
    "etl_in_list_skipping": q_in_list_skipping,
    "etl_cdf_mor_delete": q_cdf_mor_delete,
    "etl_row_tracking": q_row_tracking,
    "etl_partition_evolution": q_partition_evolution,
    "etl_row_delete": q_row_delete,
    "etl_partition_delete": q_partition_delete,
    "etl_delete_vectors": q_delete_vectors,
    "etl_merge_cow": q_merge_cow,
    "etl_merge_mor": q_merge_mor,
    "etl_merge_not_by_source": q_merge_not_by_source,
    "etl_merge_full": q_merge_full,
    "etl_merge_evolve": q_merge_evolve,
    "etl_vacuum": q_vacuum,
    "etl_refs": q_refs,
    "etl_restore": q_restore,
    "etl_clone": q_clone,
    "etl_clone_deep": q_clone_deep,
    "etl_constraints": q_constraints,
    "etl_generated_columns": q_generated_columns,
    "etl_txn_multi_table": q_txn_multi_table,
    "etl_wap_publish": q_wap_publish,
    "etl_cluster_layout": q_cluster_layout,
    "etl_zorder_layout": q_zorder_layout,
    "etl_data_skipping": q_data_skipping,
    "etl_history": q_history,
    "etl_change_feed_rows": q_change_feed_rows,
    "etl_cdf_row_lineage": q_cdf_row_lineage,
    "etl_cdf_apply": q_cdf_apply,
    "etl_agg_incremental": q_agg_incremental,
    "etl_mv_delta_apply": q_mv_delta_apply,
    "etl_cdc_merge_apply": q_cdc_merge_apply,
    "etl_optimize_where": q_optimize_where,
    "etl_optimize_zorder": q_optimize_zorder,
    "etl_zorder_incremental": q_zorder_incremental,
}

# The oracle IS the single-shot star join — that equality is the whole point.
from spark_spotify.etl import fact as _fact  # noqa: E402
from spark_spotify.etl import stats as _stats  # noqa: E402

_CUT_SQL = (
    "(SELECT make_timestamp((epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2)"
    " FROM events)"
)
_S1_SQL = _stats.ORACLE["etl_daily_stats"].replace(
    "FROM events\n", f"FROM events WHERE ts <= {_CUT_SQL}\n"
)
_STATS_COLS = [
    "total_events",
    "unique_users",
    "unique_event_types",
    "total_value",
    "morning_events",
    "afternoon_events",
    "evening_events",
    "night_events",
    "top_event_type",
]
_CHANGED_SQL = " OR ".join(
    f"s1.{c} IS DISTINCT FROM s2.{c}" for c in _STATS_COLS
)
_CDF_SQL = f"""
WITH s1 AS ({_S1_SQL}),
s2 AS ({_stats.ORACLE['etl_daily_stats']}),
ch AS (
  SELECT s1.played_date FROM s1 JOIN s2 USING (played_date)
  WHERE {_CHANGED_SQL}
)
SELECT 'insert' AS _change_type, s2.* FROM s2
WHERE played_date NOT IN (SELECT played_date FROM s1)
UNION ALL
SELECT 'delete' AS _change_type, s1.* FROM s1
WHERE played_date NOT IN (SELECT played_date FROM s2)
UNION ALL
SELECT 'update_preimage' AS _change_type, s1.* FROM s1
WHERE played_date IN (SELECT played_date FROM ch)
UNION ALL
SELECT 'update_postimage' AS _change_type, s2.* FROM s2
WHERE played_date IN (SELECT played_date FROM ch)
"""

ORACLE = {
    "etl_incremental_pipeline": _fact.ORACLE["etl_fact_star"],
    # the star-join SQL restricted to events past the integer-exact
    # mid-span cut (same arithmetic as split_ts: (lo + hi) // 2 in µs)
    "etl_snapshot_diff": _fact.ORACLE["etl_fact_star"]
    + """
WHERE e.ts > (SELECT make_timestamp(
                (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2)
              FROM events)
""",
    # compaction changes the physical layout only — the oracle is the
    # unmodified single-shot star join
    "etl_compact": _fact.ORACLE["etl_fact_star"],
    # incremental OPTIMIZE is a physical-layout verb: rows unchanged
    "etl_optimize_small_files": """
SELECT event_id, user_id, event_type, value FROM events
""",
    # scoped OPTIMIZE is a physical-layout verb: logical rows unchanged
    "etl_optimize_where": """
SELECT event_id, user_id, event_type, value FROM events
""",
    # Z-ordered OPTIMIZE re-clusters layout only: logical rows unchanged
    "etl_optimize_zorder": """
SELECT event_id, user_id,
       CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
            AS BIGINT) AS day,
       value
FROM events
""",
    # incremental ZORDER is a layout verb too: the final table is the
    # full corpus (base generation + both graduated trickle ticks)
    "etl_zorder_incremental": """
SELECT event_id, user_id,
       CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
            AS BIGINT) AS day,
       value
FROM events
""",
    # copy-on-write delete: the star join minus the erased subject
    "etl_row_delete": _fact.ORACLE["etl_fact_star"]
    + f"""
WHERE e.user_id <> {DELETE_USER}
""",
    # metadata-only retention delete: everything at or above the cut
    "etl_partition_delete": """
SELECT event_id, user_id, value FROM events
WHERE event_id >= (SELECT (3 * (MAX(event_id) + 1)) // 8 FROM events)
""",
    # merge-on-read delete: the SAME SQL — deletion vectors are a
    # physical strategy and must be logically invisible
    "etl_delete_vectors": _fact.ORACLE["etl_fact_star"]
    + f"""
WHERE e.user_id <> {DELETE_USER}
""",
    # copy-on-write MERGE: matched rows (the update user) carry the
    # doubled value; the not-matched arm re-plays the insert-template
    # user's rows under negated keys
    "etl_merge_cow": f"""
WITH base AS ({_fact.ORACLE['etl_fact_star']})
SELECT event_id, date_key, event_type_key, user_id, played_hour,
       is_weekend, time_period,
       CASE WHEN user_id = {MERGE_UPDATE_USER} THEN value * 2
            ELSE value END AS value,
       user_first_seen
FROM base
UNION ALL
SELECT -(event_id + 1) AS event_id, date_key, event_type_key, user_id,
       played_hour, is_weekend, time_period, value, user_first_seen
FROM base WHERE user_id = {MERGE_INSERT_USER}
""",
    # merge-on-read MERGE: the SAME SQL as the COW merge — deletion
    # vectors + append are a physical strategy, logically invisible
    "etl_merge_mor": f"""
WITH base AS ({_fact.ORACLE['etl_fact_star']})
SELECT event_id, date_key, event_type_key, user_id, played_hour,
       is_weekend, time_period,
       CASE WHEN user_id = {MERGE_UPDATE_USER} THEN value * 2
            ELSE value END AS value,
       user_first_seen
FROM base
UNION ALL
SELECT -(event_id + 1) AS event_id, date_key, event_type_key, user_id,
       played_hour, is_weekend, time_period, value, user_first_seen
FROM base WHERE user_id = {MERGE_INSERT_USER}
""",
    # the three-family grammar: update + insert + by-source delete in
    # one atomic commit — replica sync stated from scratch
    "etl_merge_not_by_source": f"""
WITH base AS ({_fact.ORACLE['etl_fact_star']})
SELECT event_id, date_key, event_type_key, user_id, played_hour,
       is_weekend, time_period,
       CASE WHEN user_id = {MERGE_UPDATE_USER} THEN value * 2
            ELSE value END AS value,
       user_first_seen
FROM base WHERE user_id <> {DELETE_USER}
UNION ALL
SELECT -(event_id + 1) AS event_id, date_key, event_type_key, user_id,
       played_hour, is_weekend, time_period, value, user_first_seen
FROM base WHERE user_id = {MERGE_INSERT_USER}
""",
    # full MERGE grammar: conditional DELETE tombstones every third
    # matched row, the fallback UPDATE adds the doubled source value
    # (v + 2v, IEEE-deterministic), unassigned columns keep target
    # values (the poisoned time_period must NOT surface), and the
    # conditional INSERT admits only the morning half of the re-keyed
    # template rows
    "etl_merge_full": f"""
WITH base AS ({_fact.ORACLE['etl_fact_star']})
SELECT event_id, date_key, event_type_key, user_id, played_hour,
       is_weekend, time_period,
       CASE WHEN user_id = {MERGE_UPDATE_USER} THEN value + value * 2
            ELSE value END AS value,
       user_first_seen
FROM base
WHERE NOT (user_id = {MERGE_UPDATE_USER} AND event_id % 3 = 0)
UNION ALL
SELECT -(event_id + 1) AS event_id, date_key, event_type_key, user_id,
       played_hour, is_weekend, time_period, value, user_first_seen
FROM base WHERE user_id = {MERGE_INSERT_USER} AND played_hour < 12
""",
    # schema-evolving MERGE: every original row NULL on the new column,
    # the seed rows updated (value doubled) with src_system='cdc', the
    # re-keyed insert batch likewise — the from-scratch recompute under
    # the evolved schema
    "etl_merge_evolve": f"""
WITH base AS ({_fact.ORACLE['etl_fact_star']})
SELECT event_id, date_key, event_type_key, user_id, played_hour,
       is_weekend, time_period, value, user_first_seen,
       CAST(NULL AS VARCHAR) AS src_system
FROM base
UNION ALL
SELECT -(event_id + 1) AS event_id, date_key, event_type_key, user_id,
       played_hour, is_weekend, time_period, value * 2 AS value,
       user_first_seen, 'cdc' AS src_system
FROM base WHERE user_id = {MERGE_INSERT_USER}
UNION ALL
SELECT -(event_id + 1) - 2000000000 AS event_id, date_key,
       event_type_key, user_id, played_hour, is_weekend, time_period,
       value, user_first_seen, 'cdc' AS src_system
FROM base WHERE user_id = {MERGE_INSERT_USER}
""",
    # row-lineage CDF: replaying the row-id-keyed feed onto the old
    # snapshot reconstructs the head — the from-scratch recompute
    "etl_cdf_row_lineage": f"""
SELECT event_id, user_id,
       CASE WHEN user_id = {MERGE_UPDATE_USER} THEN value * 2
            ELSE value END AS value
FROM events WHERE user_id <> {DELETE_USER}
UNION ALL
SELECT -(event_id + 1) AS event_id, user_id, value
FROM events WHERE user_id = {MERGE_INSERT_USER}
""",
    # stable ids through delete + whole-table compaction: every
    # surviving row pairs with its pre-rewrite id
    "etl_row_tracking": f"""
SELECT event_id, user_id, value, TRUE AS id_stable
FROM events WHERE user_id <> {DELETE_USER}
""",
    # the churned-and-maintained table: two point lookups, one on the
    # original key space, one on the appended key space
    "etl_bloom_maintenance": f"""
WITH t AS (
  SELECT event_id, value, md5(CAST(event_id AS VARCHAR)) AS tag
  FROM events WHERE event_id NOT IN (3, 9)
  UNION ALL
  SELECT event_id + (SELECT MAX(event_id) FROM events) + 1 AS event_id,
         value,
         md5(CAST(event_id + (SELECT MAX(event_id) FROM events) + 1
             AS VARCHAR)) AS tag
  FROM events WHERE event_id >= 10 AND event_id < 30
)
SELECT event_id, value, tag FROM t
WHERE tag IN (md5(CAST({BLOOM_POINT_ID} AS VARCHAR)),
              md5(CAST((SELECT MAX(event_id) FROM events) + 11
                  AS VARCHAR)))
""",
    # IN-list read: same rows whichever index pruned the scan
    "etl_in_list_skipping": f"""
SELECT event_id, value, md5(CAST(event_id AS VARCHAR)) AS tag
FROM events
WHERE event_id IN {IN_LIST_IDS}
""",
    # the DV commit's change feed = the erased subject's rows, deleted
    "etl_cdf_mor_delete": f"""
WITH base AS ({_fact.ORACLE['etl_fact_star']})
SELECT 'delete' AS _change_type, event_id, date_key, event_type_key,
       user_id, played_hour, is_weekend, time_period, value,
       user_first_seen
FROM base WHERE user_id = {DELETE_USER}
""",
    # the bloom-pruned point lookup returns exactly the md5-keyed row
    "etl_bloom_skipping": f"""
SELECT event_id, value, md5(CAST(event_id AS VARCHAR)) AS tag
FROM events
WHERE md5(CAST(event_id AS VARCHAR)) =
      md5(CAST({BLOOM_POINT_ID} AS VARCHAR))
""",
    # widened read = batch-1 ids upcast in the scan, batch-2 ids above
    # the int32 range — the union a 32-bit column could never hold
    "etl_type_widening": """
SELECT CAST(event_id AS BIGINT) AS event_id, user_id, value
FROM events WHERE event_id % 2 = 0
UNION ALL
SELECT event_id + 4000000000 AS event_id, user_id, value
FROM events WHERE event_id % 2 = 1
""",
    # evolved read = star join + the new column, NULL before the cut
    "etl_schema_evolution": _fact.ORACLE["etl_fact_star"].replace(
        "FROM events e",
        """  , CASE WHEN e.ts > (SELECT make_timestamp(
                  (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2) FROM events)
         THEN 'batch2' END AS ingest_source
FROM events e""",
    ),
    # spec evolution changes future layout only — rows unchanged
    "etl_partition_evolution": _fact.ORACLE["etl_fact_star"],
    # vacuum changes the physical layout only (and only of UNRETAINED
    # snapshots) — the live table is the unmodified star join
    "etl_vacuum": _fact.ORACLE["etl_fact_star"],
    # a tag read replays its pinned snapshot: the batch-1 universe
    "etl_refs": """
SELECT event_id, user_id, value FROM events WHERE event_id % 2 = 0
""",
    # RESTORE undoes the incident delete completely — the live table is
    # the unmodified star join, and vacuum reclaims only the rewrites
    "etl_restore": _fact.ORACLE["etl_fact_star"],
    # a delete on the CLONE behaves exactly like a delete on a table
    # (the source's untouchedness is gate-asserted)
    # the deep clone replays its snapshot after source destruction
    "etl_clone_deep": """
SELECT event_id, user_id, value FROM events
""",
    "etl_clone": _fact.ORACLE["etl_fact_star"]
    + f"""
WHERE e.user_id <> {DELETE_USER}
""",
    # the rejected batch leaves zero trace: the table is exactly the two
    # admitted halves = the full corpus, rolled up per event type
    "etl_constraints": """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
""",
    # recovery rolls the crashed transaction forward: the gold table is
    # the rollup over the FULL corpus, never a torn batch-1 snapshot
    "etl_txn_multi_table": """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
""",
    # the rejected batch leaves no trace; every admitted row carries the
    # materialized generated column = CAST(ts AS DATE)
    "etl_generated_columns": """
SELECT event_id, user_id, value, CAST(ts AS DATE) AS event_date
FROM events
""",
    # WAP: the poisoned staging leaves no trace; the published end state
    # is the full two-batch table — the unmodified star join
    "etl_wap_publish": _fact.ORACLE["etl_fact_star"],
    # Z-order is a rewrite: layout changes, logical rows do not
    "etl_zorder_layout": _fact.ORACLE["etl_fact_star"],
    # file skipping changes WHICH files are opened, never which rows
    # qualify — the oracle states the last-quarter aggregate directly,
    # with the same integer epoch-day arithmetic as the gate's cut
    "etl_data_skipping": """
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
  FROM events
), b AS (
  SELECT MIN(d) AS lo, MAX(d) AS hi FROM e
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM e, b
WHERE d >= lo + ((hi - lo + 1) * 3) // 4
GROUP BY event_type
""",
    # clustering is a rewrite (rows unchanged); the gate then point-
    # deletes the subject, so the result is the star join minus them
    "etl_cluster_layout": _fact.ORACLE["etl_fact_star"]
    + f"""
WHERE e.user_id <> {DELETE_USER}
""",
    # row-level CDF: the feed recomputed from the two event universes
    "etl_change_feed_rows": _CDF_SQL,
    # replaying the feed onto the v1 replica reconstructs the live
    # snapshot exactly — the oracle is the full daily-stats SQL
    "etl_cdf_apply": _stats.ORACLE["etl_daily_stats"],
    # incremental refresh == from-scratch recompute, the MV-maintenance
    # contract: the oracle is the full daily-stats SQL
    "etl_agg_incremental": _stats.ORACLE["etl_daily_stats"],
    # the from-scratch per-user aggregate of the post-change corpus:
    # user 7 deleted, user 11's values doubled, user 13's events also
    # present re-keyed — maintained view == this recompute, bit-exact
    "etl_mv_delta_apply": f"""
WITH head AS (
  SELECT event_id, user_id, value FROM events
  WHERE user_id NOT IN ({DELETE_USER}, {MERGE_UPDATE_USER})
  UNION ALL
  SELECT event_id, user_id, value * 2 AS value FROM events
  WHERE user_id = {MERGE_UPDATE_USER}
  UNION ALL
  SELECT -(event_id + 1) AS event_id, user_id, value FROM events
  WHERE user_id = {MERGE_INSERT_USER}
)
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       COUNT(*) AS n_events
FROM head GROUP BY user_id
""",
    # CDC apply through the full MERGE grammar reconstructs the live
    # snapshot on the replica — same equality, transactional verb
    "etl_cdc_merge_apply": _stats.ORACLE["etl_daily_stats"],
    # commit history: v1 = batch-1 universe, v2 = full corpus
    "etl_history": """
WITH cut AS (
  SELECT make_timestamp((epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2) AS c
  FROM events
)
SELECT 1 AS version,
       CAST((SELECT COUNT(*) FROM events, cut WHERE ts <= c) AS BIGINT)
         AS n_rows
UNION ALL
SELECT 2 AS version,
       CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n_rows
""",
    # metadata-only rename: the star join with the renamed output column
    "etl_schema_rename": _fact.ORACLE["etl_fact_star"].replace(
        f"AS {RENAME_OLD}", f"AS {RENAME_NEW}"
    ),
    # metadata-only drop composed with the rename: the star join minus
    # the dropped column, renamed column aliased
    "etl_schema_drop": _fact.ORACLE["etl_fact_star"]
    .replace(f"AS {RENAME_OLD}", f"AS {RENAME_NEW}")
    .replace(f"  dayofweek(e.ts) IN (0, 6) AS {DROP_COL},\n", ""),
    # the v1 snapshot is exactly the batch-1 universe: events at or
    # before the same integer-exact mid-span cut
    "etl_time_travel": _fact.ORACLE["etl_fact_star"]
    + """
WHERE e.ts <= (SELECT make_timestamp(
                 (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2)
               FROM events)
""",
}

# timestamp travel between the two commits resolves to the same batch-1
# snapshot VERSION AS OF 1 replays
ORACLE["etl_time_travel_ts"] = ORACLE["etl_time_travel"]
