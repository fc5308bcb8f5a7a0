"""Minimal Delta-Lake transaction-log layer (reader + writer).

The environment has no ``delta-spark`` package, and the reference reads
the log directly through delta-standalone anyway, so this module owns
the same protocol surface the reference consumes
(`DeltaReader.java:171-253`): JSON commit files under ``_delta_log/``
with ``add`` / ``remove`` / ``metaData`` / ``commitInfo`` actions.

Semantics mirrored from the reference (intent, not bugs — SURVEY §2.4):

- latest-version resolve (`DeltaReader.java:166-169`);
- snapshot by version with fallback-to-latest on a missing version
  (`DeltaReader.java:148-164`);
- snapshot by timestamp → greatest version whose commit time ≤ ts,
  fallback-to-latest (`DeltaReader.java:134-146`);
- change feed from a start version (`DeltaReader.java:185-251`) — all
  versions ≥ start, not the reference's single-version bug (§2.4 #6);
- CDC derivation: added file rows → op='c', removed file rows → op='r'
  (the intended semantics of the broken RemoveFile path, §2.4 #5),
  metadata → schema-change boundary (op='m').

Checkpoint parquet files are supported in both layouts:
`checkpoint(parts=n)` collapses the replay state into
`N.checkpoint.parquet` (single-part) or the Delta multi-part layout
`N.checkpoint.<i>.<n>.parquet`, plus `_last_checkpoint`; snapshot reads
start from the newest COMPLETE checkpoint ≤ the target version instead
of replaying every JSON commit — the O(1) snapshot path a 10⁶-commit
table needs. Deletion vectors (read + merge-on-read delete_where_dv)
and column mapping are implemented — name + id mode, reads AND
writes (round 9: id-mode staging stamps parquet field ids) — with
other protocol features failing loudly.

All control-plane I/O goes through the ``FileSystem`` shim
(``sources/fs.py``): local POSIX today, with the S3 commit protocol
(conditional PUT / external mutex) documented there — matching the
reference's storage-agnostic `DeltaLog.forTable`
(`DeltaReader.java:301-303`). Optimistic single-writer concurrency via
exclusive commit-file creation.

Table metadata: the ``metaData`` action is the table's identity and
schema cursor. ``Snapshot.metadata`` holds the whole current action;
every commit that changes it builds the new one with ``_metadata``,
which copies it and replaces only the fields the commit changes. So a
table keeps one ``id`` for its whole life (only a creating commit, a
clone or a conversion mints one), every metadata commit inherits the
configuration it does not change, and ``_commit`` arms in-commit
timestamps and row tracking from the snapshot the actions were built
against — a commit path cannot drop the table's configuration.

Scale notes: the log is small (one JSON per commit); only the driver
reads it. Data files are read by executors through the ordinary
vectorized parquet scan with partition-directory inference
(``basePath``), so snapshot reads get pruning/pushdown for free.
Snapshot reads, rewrites and change reads all build that scan in one
place, ``DeltaTable._scan``: what the log knows per file (a clone
file's partition values, row-id bases, commit version and times, the
deletion vector) joins in from one small Arrow-built broadcast lookup,
and a table that needs none of it reads as the bare scan.
"""

from __future__ import annotations

import copy
import decimal
import json
import os
import random
import re
import time
import uuid
from collections.abc import Callable, Mapping
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_io_delta_spark.operators.cdc import OP_DELETE, OP_INSERT
from pulsar_io_delta_spark.session import pin_session
from pulsar_io_delta_spark.sources.fs import FileSystem, LocalFileSystem


class DeltaProtocolError(Exception):
    """Raised on protocol features outside this reader's scope."""


def _operation_metrics(actions: list[dict]) -> dict[str, str]:
    """delta-spark-style commitInfo.operationMetrics derived from the
    action list itself (zero extra jobs — row counts come from the adds'
    footer stats already in the actions): numFiles/numRemovedFiles and
    numOutputRows where every add carries stats. Values are STRINGS,
    matching the delta-spark wire shape. DESCRIBE HISTORY surfaces
    them."""
    adds = [a["add"] for a in actions if "add" in a]
    removes = [a for a in actions if "remove" in a]
    out: dict[str, str] = {}
    if adds:
        out["numFiles"] = str(len(adds))
        rows = 0
        complete = True
        for add in adds:
            stats = add.get("stats")
            s = json.loads(stats) if isinstance(stats, str) else (stats or {})
            n = s.get("numRecords")
            if n is None:
                complete = False
                break
            rows += int(n)
        if complete:
            out["numOutputRows"] = str(rows)
    if removes:
        out["numRemovedFiles"] = str(len(removes))
    return out


# V2 checkpoints shard their file actions into _sidecars/*.parquet once
# the live-file count passes this bound (and aim for about this many
# adds per sidecar) — no single manifest grows unboundedly on a
# 10^5-10^6-file table (Delta PROTOCOL.md "V2 Spec Checkpoints").
_V2_SIDECAR_AUTO_ROWS = 50_000


class DeltaConstraintViolation(Exception):
    """A write's rows violate a CHECK constraint stored in table
    metadata, or a column's NOT NULL — the commit is refused before any
    action is published."""


class DeltaConcurrentCommit(Exception):
    """A snapshot-dependent commit lost its optimistic-concurrency race;
    the caller must recompute its action list against the new snapshot."""


# String stats prefix length (delta-spark's
# delta.dataSkippingStringPrefixLength default): a 1 KB text column
# would otherwise put ~2 KB of min/max into EVERY add action — GBs of
# transaction log at 10^6 files. Truncated bounds stay SOUND for data
# skipping: the min prefix is <= the true min, and the max prefix gets
# its last character bumped so it stays >= the true max.
_STRING_PREFIX_LEN = 32


def _truncated_string_max(s: str, n: int = _STRING_PREFIX_LEN) -> str | None:
    """Upper bound for ``s`` of length <= n: prefix with the rightmost
    incrementable character bumped (skipping the surrogate gap). None
    when no character can be bumped — the caller must DROP the max
    (a missing stat admits, never lies)."""
    if len(s) <= n:
        return s
    p = s[:n]
    for i in range(n - 1, -1, -1):
        c = ord(p[i])
        if c >= 0x10FFFF:
            continue
        c += 1
        if 0xD800 <= c <= 0xDFFF:
            c = 0xE000
        return p[:i] + chr(c)
    return None


def _stats_index_cols(
    schema_string: str | None, configuration: dict | None
) -> "frozenset | None":
    """PHYSICAL names of the columns whose footer stats go into add
    actions, or None = all (no limit configured... beyond the default).

    delta-spark semantics: ``delta.dataSkippingStatsColumns`` (explicit
    comma list) overrides ``delta.dataSkippingNumIndexedCols`` (first N
    schema columns; delta's default 32). The point is LOG SIZE at
    scale: a 1000-column table writing min/max for every column turns
    each add action into kilobytes — at 10^6 files that is the
    difference between a replayable log and a gigabyte of JSON.
    Identity columns are force-included (their high-water mark
    advances from add stats — zero extra jobs — and must never go
    blind)."""
    cfg = configuration or {}
    if not schema_string:
        return None
    fields = json.loads(schema_string).get("fields", [])

    def phys(f):
        return (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName"
        ) or f["name"]

    explicit = cfg.get("delta.dataSkippingStatsColumns")
    if explicit is not None:
        out = set()
        unknown: list[str] = []
        for raw in explicit.split(","):
            raw = raw.strip()
            if not raw:
                continue
            # Delta accepts dotted paths into nested structs
            # (e.g. 'addr.city'); resolve each segment through the
            # schema tree and emit the PHYSICAL dotted path. A name
            # whose path does not resolve is a typo — delta-spark
            # validates the configured list against the schema and
            # errors; silently intersecting would let a typo shrink
            # the allowlist to identity-only and disable data
            # skipping with no signal.
            segs = [s.strip().strip("`") for s in raw.split(".")]
            cur = fields
            phys_path: list[str] = []
            for seg in segs:
                match = next((f for f in cur if f["name"] == seg), None)
                if match is None:
                    phys_path = []
                    break
                phys_path.append(phys(match))
                t = match.get("type")
                cur = (
                    t.get("fields", [])
                    if isinstance(t, dict) and t.get("type") == "struct"
                    else []
                )
            if not phys_path:
                unknown.append(raw)
            else:
                out.add(".".join(phys_path))
        if unknown:
            raise DeltaProtocolError(
                "delta.dataSkippingStatsColumns names column(s) not in "
                f"the table schema: {', '.join(sorted(unknown))}"
            )
    else:
        n = int(cfg.get("delta.dataSkippingNumIndexedCols", 32))
        if n < 0 or n >= len(fields):
            return None
        out = {phys(f) for f in fields[:n]}
    out |= {
        phys(f)
        for f in fields
        if "delta.identity.start" in (f.get("metadata") or {})
    }
    return frozenset(out)


def _file_stats(source, indexed: "frozenset | None" = None) -> dict:
    """Per-file column stats from the parquet footer (numRecords +
    min/maxValues for primitive columns) — the data-skipping index.
    Footer-only: no data pages are read. ``source`` is a path or a
    binary file-like (FileSystem.open_read). String stats are
    truncated to ``_STRING_PREFIX_LEN`` chars (sound bounds, bounded
    log size). ``indexed`` (from _stats_index_cols) restricts which
    columns are indexed; numRecords is always collected."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(source).metadata
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            if "." in name:  # nested — skip
                continue
            if indexed is not None and name not in indexed:
                continue
            try:
                mn, mx = st.min, st.max
            except NotImplementedError:
                continue  # e.g. a decimal stored as int64: no typed bound
            if isinstance(mn, (bytes, decimal.Decimal)):
                # undecoded physical bytes are not comparable; a decimal
                # has no exact JSON number (as the int-stored ones above)
                continue
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
    for name, mn in list(mins.items()):
        if isinstance(mn, str) and len(mn) > _STRING_PREFIX_LEN:
            mins[name] = mn[:_STRING_PREFIX_LEN]
    for name, mx in list(maxs.items()):
        if isinstance(mx, str) and len(mx) > _STRING_PREFIX_LEN:
            bumped = _truncated_string_max(mx)
            if bumped is None:
                del maxs[name]
            else:
                maxs[name] = bumped
    def _norm(d: dict) -> dict:
        return {k: (v.isoformat() if hasattr(v, "isoformat") else v) for k, v in d.items()}

    return {"numRecords": md.num_rows, "minValues": _norm(mins), "maxValues": _norm(maxs)}


def _stats_admit(add: dict, filters: list[tuple[str, str, object]]) -> bool:
    """True if the file might contain rows matching all filters
    (conservative: missing stats admit the file)."""
    stats = add.get("stats")
    if not stats:
        return True
    s = json.loads(stats) if isinstance(stats, str) else stats
    mins, maxs = s.get("minValues", {}), s.get("maxValues", {})
    for col, op, val in filters:
        if col not in mins or col not in maxs:
            continue
        lo, hi = mins[col], maxs[col]
        try:
            if op in (">", ">=") and hi < val:
                return False
            if op in ("<", "<=") and lo > val:
                return False
            if op == "=" and (val < lo or val > hi):
                return False
        except TypeError:
            continue  # incomparable types: admit
    return True


_FILTER_OPS = {
    "=": Column.__eq__,
    "<": Column.__lt__,
    "<=": Column.__le__,
    ">": Column.__gt__,
    ">=": Column.__ge__,
}


def _where_filters(
    df: DataFrame, filters: list[tuple[str, str, object]] | None
) -> DataFrame:
    """Re-apply (column, op, value) filters exactly on the rows of the
    files pruning kept. Column API, not string SQL: F.lit round-trips
    dates, timestamps, and quote-bearing strings losslessly."""
    for col, op, val in filters or []:
        df = df.where(_FILTER_OPS[op](F.col(col), F.lit(val)))
    return df


class _Replay:
    """Snapshot replay's running state: the log-tail overlay and
    tombstones over the checkpoint bases, the last metaData, protocol
    and domains, and the latest txn version per appId."""

    def __init__(self, bases=(), overlay=None, removed=None, metadata=None,
                 protocol=None, domains=None, txns=None):
        self.bases = list(bases)
        self.overlay = dict(overlay or {})
        self.removed = set(removed or ())
        self.metadata = metadata or {}
        self.protocol = dict(protocol or {"minReaderVersion": 1, "minWriterVersion": 2})
        self.domains = dict(domains or {})
        self.txns = dict(txns or {})

    def apply(self, actions: list[dict]) -> None:
        for action in actions:
            if "add" in action:
                p = action["add"]["path"]
                self.overlay[p] = action["add"]
                self.removed.discard(p)
            elif "remove" in action:
                p = action["remove"]["path"]
                self.overlay.pop(p, None)
                self.removed.add(p)
            elif "metaData" in action:
                self.metadata = action["metaData"]
            elif "protocol" in action:
                self.protocol = action["protocol"]
                _check_protocol(self.protocol)
            elif "domainMetadata" in action:
                dm = action["domainMetadata"]
                if dm.get("removed"):
                    self.domains.pop(dm.get("domain"), None)
                else:
                    self.domains[dm["domain"]] = dm
            elif "txn" in action:
                t = action["txn"]
                if t.get("appId"):
                    self.txns[t["appId"]] = max(self.txns.get(t["appId"], -1), int(t.get("version", -1)))

    def snapshot(self, version: int) -> "Snapshot":
        return Snapshot(
            version=version,
            metadata=self.metadata,
            protocol=self.protocol,
            domain_metadata=self.domains,
            txns=self.txns,
            store=_LiveStore(self.bases, self.overlay, self.removed),
        )


class Snapshot:
    """Versioned table state. The live-file plane is COLUMNAR: a
    checkpoint's add rows stay inside one arrow table (`_LiveStore`)
    and per-file add dicts are materialized lazily, one path at a
    time, only when a consumer touches that file. ``files`` /
    ``adds`` / ``partition_values`` / ``add_times`` keep their
    historical dict/list contracts as read-only lazy views, so a
    10^5–10^6-file table never pays a per-file python loop at
    snapshot time (the reference bounds this replay with the same
    checkpoint device — `DeltaReader.java:301-303`; our constant has
    to be data-plane-worthy too)."""

    def __init__(
        self,
        version: int,
        files: list[str] | None = None,
        partition_values: dict[str, dict[str, str]] | None = None,
        metadata: dict | None = None,
        add_times: dict[str, int] | None = None,
        adds: dict[str, dict] | None = None,
        protocol: dict | None = None,
        domain_metadata: dict[str, dict] | None = None,
        store: "_LiveStore | None" = None,
        txns: dict[str, int] | None = None,
    ):
        self.version = version
        # the table's current metaData action as logged (empty before
        # the first commit); _metadata() builds every successor from it
        self.metadata = dict(metadata or {})
        self.protocol = dict(protocol) if protocol else {
            "minReaderVersion": 1,
            "minWriterVersion": 2,
        }
        # domain → latest non-removed domainMetadata action (spec:
        # writers must PRESERVE these across checkpoints —
        # liquid-clustered tables carry their clustering state here)
        self.domain_metadata = dict(domain_metadata or {})
        # appId → the latest txn version through this snapshot: what an
        # idempotent sink has already delivered
        self.txns = dict(txns or {})
        if store is None:
            store = _LiveStore([], dict(adds or {}), set())
        self._store = store
        self._files = list(files) if files is not None else None
        self._pv = partition_values
        self._times = add_times
        self._skip_index = None  # built on first pruned read; False = unbuildable

    @property
    def schema_string(self) -> str | None:
        return self.metadata.get("schemaString")

    def advanced(self, version: int, actions: list[dict]) -> "Snapshot":
        """The snapshot at ``version`` when ``actions`` are that commit
        and this snapshot is ``version - 1``: replay's fold over one
        more commit, without reading the log again."""
        st = self._store
        replay = _Replay(st._bases, st._overlay, st._removed, self.metadata,
                         self.protocol, self.domain_metadata, self.txns)
        replay.apply(actions)
        return replay.snapshot(version)

    @property
    def partition_columns(self) -> list[str]:
        return list(self.metadata.get("partitionColumns") or [])

    @property
    def configuration(self) -> dict:
        return dict(self.metadata.get("configuration") or {})

    @property
    def epoch(self) -> "Epoch":
        """The partition columns, schema and configuration this
        snapshot's files are read under."""
        return Epoch(
            self.version, tuple(self.partition_columns), self.schema_string,
            self.configuration,
        )

    @property
    def files(self) -> list[str]:
        if self._files is None:
            self._files = self._store.paths()
        return self._files

    @property
    def adds(self) -> "_LiveStore":
        return self._store

    @property
    def partition_values(self):
        if self._pv is None:
            self._pv = _PVView(self._store)
        return self._pv

    @property
    def add_times(self):
        if self._times is None:
            self._times = _TimesView(self._store)
        return self._times

    def _data_skipping_index(self) -> "_PruneIndex | None":
        if self._skip_index is False:
            return None
        if self._skip_index is None:
            try:
                self._skip_index = _PruneIndex.build(
                    self._store, self.schema_string, self.partition_columns
                )
            except Exception:
                # unbuildable stats/pv layout → the exact scalar path
                # (same semantics, per-file) takes over
                self._skip_index = False
                return None
        return self._skip_index


def _metadata(
    snap: Snapshot | None,
    *,
    schema_string: str | None = None,
    partition_columns: list[str] | None = None,
    configuration: dict | None = None,
) -> dict:
    """The one builder of ``metaData`` actions: a copy of
    ``snap.metadata`` with only the given fields replaced, so ``id``,
    ``format`` and any other logged field carry over. ``snap=None`` is a
    creating commit (first write, clone, conversion), the only kind
    that mints an id."""
    md = copy.deepcopy(snap.metadata) if snap is not None else {}
    md.setdefault("id", str(uuid.uuid4()))
    md.setdefault("format", {"provider": "parquet", "options": {}})
    for key, value in (
        ("schemaString", schema_string),
        ("partitionColumns", partition_columns),
        ("configuration", configuration),
    ):
        if value is not None:
            md[key] = copy.deepcopy(value)
    md.setdefault("partitionColumns", [])
    md.setdefault("configuration", {})
    return {"metaData": md}


def _committed_metadata(snap: Snapshot | None, actions: list[dict]) -> dict:
    """The metaData a commit of ``actions`` leaves the table with: the
    last one among the actions, else the snapshot's."""
    for a in reversed(actions):
        if "metaData" in a:
            return a["metaData"]
    return snap.metadata if snap is not None else {}


class _Rules(NamedTuple):
    """The rules rows written to a table must meet or fill: CHECK
    constraints (name → SQL), NOT NULL columns, generated columns
    (Delta PROTOCOL.md "Generated Columns": column → SQL), identity
    columns ("Identity Columns": column → {start, step, hw, allow},
    ``hw`` None until the first write, ``allow`` for GENERATED BY
    DEFAULT) and default columns (column → SQL)."""

    checks: dict
    not_null: tuple
    generated: dict
    identity: dict
    defaults: dict

    @classmethod
    def of(cls, schema_string: str | None, configuration: dict | None) -> "_Rules":
        fields = json.loads(schema_string)["fields"] if schema_string else []
        meta = {f["name"]: f.get("metadata") or {} for f in fields}
        prefix = DeltaTable.CONSTRAINT_PREFIX
        hw = "delta.identity.highWaterMark"
        return cls(
            checks={
                k[len(prefix):]: v
                for k, v in (configuration or {}).items()
                if k.startswith(prefix)
            },
            not_null=tuple(f["name"] for f in fields if not f.get("nullable", True)),
            generated={
                c: m["delta.generationExpression"]
                for c, m in meta.items()
                if m.get("delta.generationExpression")
            },
            identity={
                c: {
                    "start": int(m.get("delta.identity.start", 1)),
                    "step": int(m.get("delta.identity.step", 1)),
                    "hw": None if m.get(hw) is None else int(m[hw]),
                    "allow": bool(m.get("delta.identity.allowExplicitInsert", False)),
                }
                for c, m in meta.items()
                if "delta.identity.start" in m or "delta.identity.step" in m
            },
            defaults={
                c: m["CURRENT_DEFAULT"] for c, m in meta.items() if "CURRENT_DEFAULT" in m
            },
        )

    def probes(self, columns, quote, generated: bool = False) -> list[tuple[str, str]]:
        """``(rule, violation predicate)`` pairs over a frame with
        ``columns`` (identifiers quoted by ``quote``): each CHECK, NULL
        results included (Delta CHECK semantics), all NOT NULL columns
        at once and, with ``generated``, each generated column."""
        out = [
            (f"CHECK constraint {name!r} ({e})", f"NOT ({e}) OR ({e}) IS NULL")
            for name, e in self.checks.items()
        ]
        required = [c for c in self.not_null if c in columns]
        if required:
            out.append((f"NOT NULL constraint on {required}",
                        " OR ".join(f"{quote(c)} IS NULL" for c in required)))
        return out + [
            (f"generated column {c!r} ({e})", f"NOT ({quote(c)} IS NOT DISTINCT FROM ({e}))")
            for c, e in self.generated.items()
            if generated and c in columns
        ]


class _AppendPlan(NamedTuple):
    """What an append stages and commits by (``DeltaTable._plan_append``);
    plain data, so it pickles to the executors staging a sink's files."""

    version: int  # the snapshot's version; -1 creates the table
    actions: list  # the protocol/metaData actions the append commits
    partition_columns: list
    physical: dict  # column → (physical name, parquet field id in id mode)
    stats_cols: "frozenset | None"  # the footer-stats allowlist
    rules: _Rules
    schema_json: str  # the input schema, to plan again after a lost race
    partition_by: "list | None"

    def stages_like(self, other: "_AppendPlan") -> bool:
        """Files staged under this plan are valid under ``other``: the
        same physical names, partitioning and rules. An identity
        column's high-water mark counts only where the append fills the
        column from it."""
        def fit(plan: "_AppendPlan") -> tuple:
            given = {f["name"] for f in json.loads(plan.schema_json)["fields"]}
            ident = {c: {**v, "hw": None} if c in given else v for c, v in plan.rules.identity.items()}
            return plan.physical, plan.partition_columns, plan.rules._replace(identity=ident)

        return fit(self) == fit(other)


def _physical_names(
    schema_string: str | None, configuration: dict | None, columns=None
) -> dict[str, tuple[str, int | None]]:
    """Column → (physical name, parquet field id) for each of
    ``columns`` (None: every field). Unmapped tables keep the logical
    name; only id mode carries a field id."""
    mode = (configuration or {}).get("delta.columnMapping.mode", "none")
    mapped = mode in ("name", "id")
    fields = {f["name"]: f for f in json.loads(schema_string)["fields"]} if schema_string else {}
    out = {}
    for c in fields if columns is None else columns:
        meta = ((fields.get(c) or {}).get("metadata") or {}) if mapped else {}
        fid = meta.get("delta.columnMapping.id") if mode == "id" else None
        out[c] = (
            meta.get("delta.columnMapping.physicalName", c),
            None if fid is None else int(fid),
        )
    return out


def _variant_upgrade(protocol: dict, schema_json: str) -> list[dict]:
    """The protocol action a commit of ``schema_json`` needs: variant
    columns demand the variantType feature (a featureless reader would
    mis-read the physical struct<metadata,value> as data)."""
    if _schema_has_variant(schema_json) and "variantType" not in (
        protocol.get("readerFeatures") or ()
    ):
        return [{"protocol": _upgraded_protocol(protocol, ("variantType",), ("variantType",))}]
    return []


# Reader features this engine actually implements (Delta PROTOCOL.md
# table-features model, minReaderVersion 3). Anything else still fails
# loudly — a feature we silently ignored could mis-read data (e.g. v2
# checkpoints would make us miss adds entirely).
_SUPPORTED_READER_FEATURES = {
    "deletionVectors",
    "columnMapping",
    "timestampNtz",
    # Spark 4.x decodes the variant physical encoding natively through
    # the exact StructType.fromJson path _read_files pins (round 8)
    "variantType",
    # files written before a widening carry the NARROW physical type;
    # _read_files always pins the widened LOG schema and Spark's
    # parquet reader upconverts (int→long/double, float→double,
    # date→timestampNtz, decimal precision growth — all probed)
    "typeWidening",
    "typeWidening-preview",
    "v2Checkpoint",
    # vacuum() re-checks the FULL protocol before touching any file
    # (the exact guard this feature mandates) — common on 2023+
    # delta-spark tables alongside deletionVectors/v2Checkpoint
    "vacuumProtocolCheck",
}

# Writer features this engine implements (write paths consult these via
# _guard_writable — ADVICE r7 #3: a table advertising e.g. rowTracking
# or checkConstraints must not be mutated by a writer that would
# silently violate them). appendOnly is enforced through its
# delta.appendOnly config switch; invariants through a loud gate on
# delta.invariants schema metadata; columnMapping through physical-name
# staging in _stage_and_move (id mode additionally stamps field ids).
_SUPPORTED_WRITER_FEATURES = {
    "deletionVectors",
    "timestampNtz",
    "columnMapping",
    "appendOnly",
    "invariants",
    # checkpoint() auto-switches to the v2 form when the protocol
    # demands it (spec: classic checkpoints forbidden on such tables)
    "v2Checkpoint",
    # merge/delete paths write _change_data files + cdc actions when
    # delta.enableChangeDataFeed is armed (round 8)
    "changeDataFeed",
    # every write path enforces delta.constraints.* via
    # _validate_constraints (violating commits refuse loudly)
    "checkConstraints",
    # UTF8_BINARY-collated columns are pass-through (binary ordering =
    # collation ordering, so writes and their footer stats are sound);
    # non-binary collations refuse by name in _guard_writable /
    # _guard_collations
    "collations-preview",
    # _commit stamps a monotonic commitInfo.inCommitTimestamp when
    # delta.enableInCommitTimestamps is armed; time travel trusts it.
    # The -preview alias is what pre-GA delta-spark/Databricks builds
    # stamped on tables they armed — same semantics, accept both.
    "inCommitTimestamp",
    "inCommitTimestamp-preview",
    # write/merge compute columns missing from the incoming frame from
    # their delta.generationExpression and VALIDATE provided ones;
    # UPDATE recomputes them and refuses direct assignment
    "generatedColumns",
    # snapshot replay tracks domainMetadata (last-wins, removed=drop)
    # and every checkpoint dialect we write preserves it
    "domainMetadata",
    # write() assigns lattice values distributedly and advances
    # delta.identity.highWaterMark from staged footer stats; MERGE and
    # UPDATE gate loudly where generation semantics would be ambiguous
    "identityColumns",
    # Spark stages the variant physical encoding natively; write()
    # auto-upgrades the protocol when a schema carries a variant column
    "variantType",
    # we never CHANGE column types (_merge_schema_strings rejects that
    # as evolution), and appends in the current widened schema are
    # compliant — so committing to a typeWidening table is safe
    "typeWidening",
    "typeWidening-preview",
    # _commit assigns add.baseRowId/defaultRowCommitVersion and advances
    # the delta.rowTracking rowIdHighWaterMark domain when
    # delta.enableRowTracking is armed; rewrite paths preserve row ids
    # through the spec's materialized columns (round 8)
    "rowTracking",
    # vacuum() re-checks the full protocol before deleting — the guard
    # this feature exists to mandate
    "vacuumProtocolCheck",
    # liquid clustering (round 9): clustering columns live in the
    # delta.clustering metadata domain; optimize_clustered() rewrites
    # in Hilbert order over them. The spec makes maintaining the
    # clustered layout best-effort for writers, so plain appends to a
    # clustered table are compliant.
    "clusteredTable",
    # default column values (round 9): write() evaluates a field's
    # CURRENT_DEFAULT expression for columns the incoming frame omits
    # (DeltaTable._fill_append) — the spec's write-time-only semantics
    "allowColumnDefaults",
    # checkpoint protection (round 11, spec "Checkpoint Protection"):
    # history before delta.requireCheckpointProtectionBeforeVersion
    # depends on checkpoints that must survive until the WHOLE
    # protected prefix can be truncated at once. expire_log() and
    # checkpoint() enforce the boundary (_ckpt_protection_boundary);
    # ordinary data commits never touch protected history, so they
    # are compliant as-is.
    "checkpointProtection",
}


def _ckpt_protection_boundary(snap: "Snapshot") -> int:
    """delta.requireCheckpointProtectionBeforeVersion when the protocol
    carries checkpointProtection, else 0 (spec "Checkpoint Protection",
    stamped e.g. by CLONEs that graft another table's history): history
    strictly below the boundary may only be truncated in ONE sweep that
    reaches the boundary, and no new checkpoint may be created below
    it — partial cleanup could strip a checkpoint that pre-boundary
    time travel depends on."""
    if "checkpointProtection" not in (
        snap.protocol.get("writerFeatures") or ()
    ):
        return 0
    return int(
        (snap.configuration or {}).get(
            "delta.requireCheckpointProtectionBeforeVersion", 0
        )
        or 0
    )


def _rt_enabled(configuration: dict | None) -> bool:
    return (configuration or {}).get("delta.enableRowTracking") == "true"


def _rt_mat_cols(configuration: dict) -> tuple[str, str]:
    """The spec's materialized row-id / row-commit-version PHYSICAL
    column names (chosen at enable time, stored in table config) —
    how rewrites (OPTIMIZE, PURGE, DELETE survivors) carry each row's
    identity into its new file."""
    return (
        configuration["delta.rowTracking.materializedRowIdColumnName"],
        configuration["delta.rowTracking.materializedRowCommitVersionColumnName"],
    )


def _rt_hwm(snap: "Snapshot | None") -> int:
    """Current rowIdHighWaterMark (-1 before any assignment)."""
    if snap is None:
        return -1
    dm = snap.domain_metadata.get("delta.rowTracking")
    if not dm:
        return -1
    return int(json.loads(dm.get("configuration") or "{}").get("rowIdHighWaterMark", -1))


# Features implied by each legacy minWriterVersion (Delta PROTOCOL.md
# version-to-feature appendix; cumulative). ALL are implemented by this
# writer as of round 8, which is what makes legacy 3-6 tables writable.
_LEGACY_WRITER_IMPLIED = {
    2: {"appendOnly", "invariants"},
    3: {"checkConstraints"},
    4: {"changeDataFeed", "generatedColumns"},
    5: {"columnMapping"},
    6: {"identityColumns"},
}


def _upgraded_protocol(
    prior: dict, reader_features: tuple[str, ...], writer_features: tuple[str, ...]
) -> dict:
    """Protocol action adding features: upgrade to the table-features
    form by MERGING with the prior protocol — the spec forbids dropping
    features, and a legacy version's implicit features must be
    enumerated on upgrade (ADVICE r7 #1: re-stating a bare new-feature
    protocol would strip e.g. timestampNtz and lose a downstream
    reader's refusal gate)."""
    mrv = int(prior.get("minReaderVersion") or 1)
    mwv = int(prior.get("minWriterVersion") or 2)
    rf = set(prior.get("readerFeatures") or ())
    wf = set(prior.get("writerFeatures") or ())
    if mrv == 2:
        rf.add("columnMapping")  # implied by legacy reader version 2
    for v in range(2, min(mwv, 6) + 1):
        wf |= _LEGACY_WRITER_IMPLIED[v]  # cumulative legacy implications
    rf |= set(reader_features)
    wf |= set(writer_features)
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(rf),
        "writerFeatures": sorted(wf),
    }


def _dv_upgraded_protocol(prior: dict) -> dict:
    return _upgraded_protocol(prior, ("deletionVectors",), ("deletionVectors",))


def _check_protocol(p: dict) -> None:
    """Gate on the protocol action. minReaderVersion 1 is the legacy
    reader; 2 is the column-mapping era (the mode itself is validated
    at scan time — name + id both supported); 3 uses the table-features
    list, checked against what we implement."""
    mrv = int(p.get("minReaderVersion") or 1)
    if mrv <= 2:
        return
    if mrv == 3:
        unsupported = set(p.get("readerFeatures") or ()) - _SUPPORTED_READER_FEATURES
        if unsupported:
            raise DeltaProtocolError(
                f"unsupported protocol reader features: {sorted(unsupported)}"
            )
        return
    raise DeltaProtocolError(f"unsupported protocol: {p}")


def _schema_has_variant(schema_json: str) -> bool:
    """True when any field (at any nesting) is the VARIANT type — such
    schemas demand the variantType table feature (spec: a reader
    lacking it would mis-read the physical struct<metadata,value> as
    data)."""

    def walk(t) -> bool:
        if isinstance(t, str):
            return t == "variant"
        tt = t.get("type")
        if tt == "struct":
            return any(walk(f["type"]) for f in t["fields"])
        if tt == "array":
            return walk(t["elementType"])
        if tt == "map":
            return walk(t["keyType"]) or walk(t["valueType"])
        return False

    s = json.loads(schema_json)
    return any(walk(f["type"]) for f in s["fields"])


def _contains_struct(t) -> bool:
    if isinstance(t, str):
        return False
    tt = t.get("type")
    if tt == "struct":
        return True
    if tt == "array":
        return _contains_struct(t["elementType"])
    if tt == "map":
        return _contains_struct(t["keyType"]) or _contains_struct(t["valueType"])
    return False


def _guard_collations(schema_string: str | None) -> None:
    """Collated string columns (Delta collations preview, table
    feature ``collations-preview``): collation identifiers live in
    field metadata under ``__COLLATIONS`` ({path: "PROVIDER.NAME"}).
    The BYTES of a collated column are plain UTF-8 either way, so a
    column collated ``*.UTF8_BINARY`` reads identically through this
    engine — metadata-only pass-through. Any OTHER collation changes
    comparison/ordering semantics (e.g. ``ICU.en_US`` equality folds
    case) that this engine would silently evaluate binary-wise — and
    file stats min/max under a non-binary collation ordering would
    mis-prune — so non-binary collations refuse BY NAME instead of
    returning subtly wrong comparisons. collations-preview is a
    writer-level feature: tables stay readable up to this guard."""
    if not schema_string or "__COLLATIONS" not in schema_string:
        return

    def walk(fields: list, prefix: str) -> None:
        for f in fields:
            name = f.get("name", "?")
            meta = f.get("metadata") or {}
            for path, ident in (meta.get("__COLLATIONS") or {}).items():
                base = str(ident).rsplit(".", 1)[-1]
                if base != "UTF8_BINARY":
                    raise DeltaProtocolError(
                        f"column {prefix}{name!r} (path {path!r}) is "
                        f"collated {ident!r}: only UTF8_BINARY "
                        "collations are supported (identical binary "
                        "semantics); non-binary collations would "
                        "compare and prune incorrectly in this engine"
                    )
            t = f.get("type")
            while isinstance(t, dict):
                if t.get("type") == "struct":
                    walk(t.get("fields", []), f"{prefix}{name}.")
                    break
                t = t.get("elementType") or t.get("valueType")

    walk(json.loads(schema_string).get("fields", []), "")


def _cdf_enabled(configuration: dict | None) -> bool:
    """Change Data Feed activation switch (Delta PROTOCOL.md "Change
    Data Feed"): when armed, UPDATE/DELETE/MERGE commits must carry cdc
    actions with exact change rows; readers then use those exclusively
    for the commit instead of deriving from add/remove."""
    return (configuration or {}).get("delta.enableChangeDataFeed") == "true"


def _column_mapping(
    schema_string: str | None, configuration: dict
) -> tuple[str, list[tuple[str, str]]] | None:
    """Column mapping (Delta PROTOCOL.md "Column Mapping"): parquet
    files store per-column physical names recorded in each schema
    field's ``delta.columnMapping.physicalName`` metadata, and readers
    rename physical → logical. Returns ``(physical_schema_json,
    [(physical, logical), ...])``, or None when mapping is off.

    'name' mode matches by physical name. 'id' mode (round 8) attaches
    ``parquet.field.id`` metadata to each physical field — with
    ``spark.sql.parquet.fieldId.read.enabled`` (pin_session) files
    written by id-preserving engines (UniForm / converted tables) match
    by field id even when their column names differ. A file in an
    id-mode table that carries NO field ids (spec-violating — id-mode
    writers must emit them) fails LOUDLY with Spark's missing-field-ids
    error naming the ``fieldId.read.ignoreMissing`` escape hatch —
    never a silent null-fill. Name-mode nested structs rename
    recursively — including structs inside ARRAYS and MAPS (round 9);
    id-mode nested still gates loudly."""
    mode = (configuration or {}).get("delta.columnMapping.mode", "none")
    if mode in ("none", ""):
        return None
    if mode not in ("name", "id"):
        raise DeltaProtocolError(f"unsupported column mapping mode: {mode!r}")
    if schema_string is None:
        return None
    s = json.loads(schema_string)
    phys_fields: list[dict] = []
    renames: list[tuple[str, str]] = []
    for f in s["fields"]:
        meta = f.get("metadata") or {}
        pname = meta.get("delta.columnMapping.physicalName", f["name"])
        if _contains_struct(f["type"]):
            if mode == "id":
                raise DeltaProtocolError(
                    f"id-mode column mapping on nested struct column "
                    f"{f['name']!r} is not supported"
                )
            # name-mode nested structs rename recursively (round 8),
            # through array/map element structs too (round 9)
            g = {
                "name": pname,
                "type": _phys_nested_type(f["type"], f["name"]),
                "nullable": f.get("nullable", True),
                "metadata": {},
            }
        else:
            g = dict(f)
            g["name"] = pname
            g["metadata"] = {}
            if mode == "id":
                fid = meta.get("delta.columnMapping.id")
                if fid is None:
                    raise DeltaProtocolError(
                        f"id-mode column mapping: field {f['name']!r} lacks "
                        "delta.columnMapping.id"
                    )
                g["metadata"] = {"parquet.field.id": int(fid)}
        phys_fields.append(g)
        renames.append((pname, f["name"]))
    return json.dumps({"type": "struct", "fields": phys_fields}), renames


def _phys_nested_type(t, path: str):
    """Recursively rename a struct type's fields to their physical
    names — through struct, ARRAY and MAP nesting (round 9: a UniForm /
    Iceberg-converted table routinely maps structs inside arrays and
    maps; the read-side rebuild in `_mapping_select_exprs` mirrors this
    with higher-order `transform` / `transform_values`)."""
    if isinstance(t, str):
        return t
    kind = t["type"]
    if kind == "struct":
        out_fields = []
        for sf in t["fields"]:
            meta = sf.get("metadata") or {}
            pname = meta.get("delta.columnMapping.physicalName", sf["name"])
            out_fields.append(
                {
                    "name": pname,
                    "type": _phys_nested_type(sf["type"], f"{path}.{sf['name']}"),
                    "nullable": sf.get("nullable", True),
                    "metadata": {},
                }
            )
        return {"type": "struct", "fields": out_fields}
    if kind == "array":
        out = dict(t)
        out["elementType"] = _phys_nested_type(t["elementType"], f"{path}.element")
        return out
    if kind == "map":
        out = dict(t)
        out["keyType"] = _phys_nested_type(t["keyType"], f"{path}.key")
        out["valueType"] = _phys_nested_type(t["valueType"], f"{path}.value")
        return out
    if _contains_struct(t):
        raise DeltaProtocolError(
            f"column mapping on composite type {t['type']!r} at {path!r} "
            "is not supported"
        )
    return t


def _mapping_select_exprs(schema_string: str, mapping) -> list[Column]:
    """SELECT expressions renaming a physically-named scan back to
    LOGICAL names. Flat columns alias directly; struct columns rebuild
    recursively with their subfields renamed — preserving NULL structs
    (a bare F.struct would turn a null struct into a struct of nulls).
    Structs inside ARRAYS and MAPS rebuild through the higher-order
    `transform` / `transform_keys` / `transform_values` functions —
    codegen-side lambda rewrites, never a python UDF (round 9)."""
    from pyspark.sql.types import StructField

    def logical_type_of(t):
        return StructField.fromJson(
            {"name": "x", "type": t, "nullable": True, "metadata": {}}
        ).dataType

    def rename_expr(expr: Column, t) -> Column:
        if not isinstance(t, dict):
            return expr
        kind = t.get("type")
        if kind == "struct":
            subs = []
            for sf in t["fields"]:
                meta = sf.get("metadata") or {}
                pname = meta.get("delta.columnMapping.physicalName", sf["name"])
                subs.append(
                    rename_expr(expr.getField(pname), sf["type"]).alias(sf["name"])
                )
            return F.when(
                expr.isNull(), F.lit(None).cast(logical_type_of(t))
            ).otherwise(F.struct(*subs))
        if kind == "array" and _contains_struct(t["elementType"]):
            return F.transform(expr, lambda x: rename_expr(x, t["elementType"]))
        if kind == "map":
            out = expr
            if _contains_struct(t["keyType"]):
                out = F.transform_keys(
                    out, lambda k, _v: rename_expr(k, t["keyType"])
                )
            if _contains_struct(t["valueType"]):
                out = F.transform_values(
                    out, lambda _k, v: rename_expr(v, t["valueType"])
                )
            return out
        return expr

    out: list[Column] = []
    for f in json.loads(schema_string)["fields"]:
        meta = f.get("metadata") or {}
        pname = meta.get("delta.columnMapping.physicalName", f["name"])
        out.append(rename_expr(F.col(pname), f["type"]).alias(f["name"]))
    return out


def _assign_mapping_metadata(
    merged_schema: str, configuration: dict
) -> tuple[str, dict]:
    """Assign ``delta.columnMapping.id`` + ``physicalName`` to fields
    lacking them — schema evolution on a name-mode mapped table. New
    columns get ``col-<uuid>`` physical names (never reused, so a
    dropped-and-readded column cannot resurrect old data) and the next
    free id; ``delta.columnMapping.maxColumnId`` advances past the
    highest assigned id (Delta PROTOCOL.md "Column Mapping"
    invariants)."""
    s = json.loads(merged_schema)
    max_id = int((configuration or {}).get("delta.columnMapping.maxColumnId") or 0)
    for f in s["fields"]:
        fid = (f.get("metadata") or {}).get("delta.columnMapping.id")
        if fid is not None:
            max_id = max(max_id, int(fid))
    for f in s["fields"]:
        meta = dict(f.get("metadata") or {})
        if "delta.columnMapping.physicalName" not in meta:
            max_id += 1
            meta["delta.columnMapping.id"] = max_id
            meta["delta.columnMapping.physicalName"] = f"col-{uuid.uuid4()}"
            f["metadata"] = meta
    config = dict(configuration or {})
    config["delta.columnMapping.maxColumnId"] = str(max_id)
    return json.dumps(s), config


def _posix_path_col(file_path_col: Column) -> Column:
    """Decode ``_metadata.file_path`` (a Hadoop-style URI such as
    ``file:/abs/path``, percent-encoded — spaces become ``%20``,
    non-ASCII becomes UTF-8 escapes) into the raw POSIX path, so it can
    be equi-joined against ``os.path``-built keys. A literal ``+`` is
    legal in a URI *path* (form-encoding quirks don't apply), but
    ``url_decode`` is form-decoding and would turn it into a space —
    protect it first."""
    stripped = F.regexp_replace(file_path_col, "^[a-zA-Z0-9+.-]+:/+", "/")
    return F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))


def _parse_checkpoint_name(name: str) -> tuple[int, int, int] | None:
    """(version, part, num_parts) for a checkpoint file name, else None.

    Single-part: ``<v20>.checkpoint.parquet`` → (v, 1, 1).
    Multi-part (Delta layout): ``<v20>.checkpoint.<i10>.<n10>.parquet``
    → (v, i, n) with 1-based part index i."""
    if not name.endswith(".parquet") or ".checkpoint." not in name:
        return None
    stem = name[: -len(".parquet")]
    pieces = stem.split(".checkpoint")
    if len(pieces) != 2 or not pieces[0].isdigit():
        return None
    version, rest = int(pieces[0]), pieces[1]
    if rest == "":
        return (version, 1, 1)
    parts = rest.lstrip(".").split(".")
    if len(parts) == 2 and all(p.isdigit() for p in parts):
        return (version, int(parts[0]), int(parts[1]))
    return None


_UUID_RE = re.compile(r"^[0-9a-fA-F]{8}(-[0-9a-fA-F]{4}){3}-[0-9a-fA-F]{12}$")


def _parse_v2_checkpoint_name(name: str) -> tuple[int, str] | None:
    """(version, name) for a UUID-named V2 checkpoint file
    ``<v20>.checkpoint.<uuid>.{parquet,json}`` (Delta PROTOCOL.md
    "V2 Spec Checkpoints"), else None."""
    for ext in (".parquet", ".json"):
        if name.endswith(ext) and ".checkpoint." in name:
            stem = name[: -len(ext)]
            v, _, rest = stem.partition(".checkpoint.")
            if v.isdigit() and _UUID_RE.match(rest):
                return int(v), name
    return None


def _as_str_map(v) -> dict:
    """Normalize a pyarrow-decoded map column (list of (k, v) pairs) or
    an already-dict value to a plain dict."""
    if v is None:
        return {}
    if isinstance(v, dict):
        return dict(v)
    return {k: val for k, val in v}


def _spec_checkpoint_actions(rows: list[dict]) -> list[dict]:
    """Convert SPEC-format checkpoint parquet rows (each row has at most
    one non-null nested action column: txn / add / remove / metaData /
    protocol / checkpointMetadata / sidecar — Delta PROTOCOL.md
    "Checkpoint Schema") into log-style action dicts. Parsed/derived
    columns (stats_parsed, partitionValues_parsed) are ignored."""
    out: list[dict] = []
    for r in rows:
        for key in ("txn", "add", "remove", "metaData", "protocol",
                    "checkpointMetadata", "sidecar", "domainMetadata"):
            v = r.get(key)
            if not isinstance(v, dict):
                continue
            # a struct column decodes to a dict of all-None fields when
            # the action is absent from this row
            if all(x is None for x in v.values()):
                continue
            a = {k: x for k, x in v.items() if x is not None}
            if key in ("add", "remove"):
                a["partitionValues"] = _as_str_map(a.get("partitionValues"))
                dv = a.get("deletionVector")
                if isinstance(dv, dict):
                    dv = {k: x for k, x in dv.items() if x is not None}
                    if dv.get("storageType"):
                        a["deletionVector"] = dv
                    else:
                        a.pop("deletionVector", None)
            elif key == "metaData":
                a["configuration"] = _as_str_map(a.get("configuration"))
                if isinstance(a.get("format"), dict):
                    fmt = {k: x for k, x in a["format"].items() if x is not None}
                    fmt["options"] = _as_str_map(fmt.get("options"))
                    a["format"] = fmt
            out.append({key: a})
    return out


class _AddColumns:
    """One checkpoint's add rows kept as ONE arrow table — the
    columnar metadata plane. Two on-disk dialects:

    - ``compact`` — this engine's flat layout (``path`` /
      ``partitionValues`` / ``stats`` string columns);
    - ``spec`` — the Delta spec's nested ``add`` struct (what
      delta-spark writes into classic checkpoints and V2 sidecars).

    Per-file add dicts are built lazily by ``materialize`` and the
    prune index pulls whole columns; nothing explodes the table into
    10^6 python dicts up front."""

    def __init__(self, table, dialect: str):
        self.table = table
        self.dialect = dialect
        self._paths: list[str] | None = None  # lazy — pruned reads never need it

    def __len__(self) -> int:
        return self.table.num_rows

    @property
    def paths(self) -> list[str]:
        if self._paths is None:
            self._paths = self.paths_arrow().to_pylist()
        return self._paths

    def _add_col(self, name: str):
        """The named add field as an arrow column, or None if absent
        (older compact checkpoints lack e.g. baseRowId)."""
        import pyarrow.compute as pc

        if self.dialect == "compact":
            if name not in self.table.column_names:
                return None
            return self.table.column(name)
        struct_fields = {f.name for f in self.table.column("add").type}
        if name not in struct_fields:
            return None
        return pc.struct_field(self.table.column("add"), name)

    def paths_arrow(self):
        import pyarrow.compute as pc

        if self.dialect == "compact":
            return self.table.column("path")
        return pc.struct_field(self.table.column("add"), "path")

    def stats_arrow(self):
        """Per-row stats JSON strings as an arrow column (nulls where
        absent), or None when the dialect carries no stats column."""
        return self._add_col("stats")

    def stats_json(self) -> list:
        """Per-row stats JSON strings (None where absent)."""
        col = self._add_col("stats")
        return col.to_pylist() if col is not None else [None] * len(self)

    def mod_times(self) -> list:
        col = self._add_col("modificationTime")
        return col.to_pylist() if col is not None else [None] * len(self)

    def pv_arrow(self):
        """Raw partitionValues JSON strings as an arrow column
        (compact dialect only)."""
        if self.dialect != "compact":
            return None
        return self.table.column("partitionValues")

    def pv_lookup(self, key: str):
        """Per-row partitionValues[key] (spec dialect map column) as an
        arrow array. None conflates absent-key and null-value; callers
        resolve ambiguous rows through ``materialize``."""
        import pyarrow as pa
        import pyarrow.compute as pc

        col = self._add_col("partitionValues")
        if col is None:
            return pa.nulls(len(self), pa.string())
        return pc.map_lookup(col, query_key=key, occurrence="first")

    def materialize(self, i: int) -> dict:
        """The full add-action dict for row ``i`` — byte-identical to
        what the historical per-row checkpoint parse produced."""
        if self.dialect == "compact":
            cols = self.table.column_names

            def g(c):
                return self.table.column(c)[i].as_py() if c in cols else None

            add = {
                "path": g("path"),
                "partitionValues": json.loads(g("partitionValues") or "{}"),
                "modificationTime": int(g("modificationTime") or 0),
                "stats": g("stats"),
            }
            if g("size") is not None:
                add["size"] = int(g("size"))
            if g("deletionVector"):
                add["deletionVector"] = json.loads(g("deletionVector"))
            for k in ("baseRowId", "defaultRowCommitVersion"):
                if g(k) is not None:
                    add[k] = int(g(k))
            return add
        # spec dialect: reuse the exact action normalizer on a 1-row
        # slice — identical by construction to the historical path
        row = self.table.slice(i, 1).to_pylist()[0]
        for a in _spec_checkpoint_actions([row]):
            if "add" in a:
                return a["add"]
        return {}


class _LiveStore(Mapping):
    """The snapshot's live-file map: columnar checkpoint base(s) plus
    the replayed log-tail overlay, resolved lazily per path. Tail
    ``remove`` actions only ever mask base rows (a re-add lives in the
    overlay, which shadows the base)."""

    def __init__(
        self,
        bases: "list[_AddColumns]",
        overlay: dict[str, dict],
        removed: set[str],
    ):
        self._bases = bases
        self._overlay = overlay
        self._removed = removed
        self._order: list[str] | None = None
        self._index: dict[str, tuple[int, int]] | None = None

    def _base_index(self) -> dict[str, tuple[int, int]]:
        if self._index is None:
            self._index = {
                p: (bi, i)
                for bi, b in enumerate(self._bases)
                for i, p in enumerate(b.paths)
            }
        return self._index

    def paths(self) -> list[str]:
        if self._order is None:
            if not self._removed and not self._overlay:
                live = {p for b in self._bases for p in b.paths}
            else:
                live = {
                    p
                    for b in self._bases
                    for p in b.paths
                    if p not in self._removed
                }
                live.update(self._overlay)
            self._order = sorted(live)
        return self._order

    def __getitem__(self, path: str) -> dict:
        a = self._overlay.get(path)
        if a is not None:
            return a
        if path not in self._removed:
            loc = self._base_index().get(path)
            if loc is not None:
                bi, i = loc
                return self._bases[bi].materialize(i)
        raise KeyError(path)

    def __iter__(self):
        return iter(self.paths())

    def __len__(self) -> int:
        return len(self.paths())

    def file_stats_totals(self) -> tuple[int, int] | None:
        """(num_files, total_bytes) of the live set, or None when a
        layout lacks sizes. Arrow column sums over the checkpoint
        bases (C-side, O(base rows)) corrected by the tail overlay /
        removed masks (python, O(churn)) — the version-checksum
        account stays data-plane-cheap at 10^6 files."""
        import pyarrow.compute as pc

        total = 0
        size_cols = []
        for b in self._bases:
            col = b._add_col("size")
            if col is None or col.null_count:
                return None  # this layout doesn't carry (all) sizes
            size_cols.append(col)
            total += pc.sum(col).as_py() or 0
        idx = self._base_index() if (self._removed or self._overlay) else {}
        for p in set(self._removed) | set(self._overlay):
            loc = idx.get(p)
            if loc is not None:  # masked or shadowed base row
                bi, i = loc
                sz = size_cols[bi][i].as_py()
                if sz is None:
                    return None
                total -= int(sz)
        for a in self._overlay.values():
            if a.get("size") is None:
                return None
            total += int(a["size"])
        return len(self.paths()), total


class _PVView(Mapping):
    """path → partitionValues dict, materialized per access."""

    def __init__(self, store: _LiveStore):
        self._s = store

    def __getitem__(self, path: str) -> dict:
        return self._s[path].get("partitionValues", {})

    def __iter__(self):
        return iter(self._s)

    def __len__(self) -> int:
        return len(self._s)


class _TimesView(Mapping):
    """path → modificationTime ms, materialized per access."""

    def __init__(self, store: _LiveStore):
        self._s = store

    def __getitem__(self, path: str) -> int:
        return int(self._s[path].get("modificationTime", 0) or 0)

    def __iter__(self):
        return iter(self._s)

    def __len__(self) -> int:
        return len(self._s)

    def values(self):  # columnar fast path for max(add_times.values())
        s = self._s
        out = [
            int(t or 0)
            for b in s._bases
            for p, t in zip(b.paths, b.mod_times())
            if p not in s._removed and p not in s._overlay
        ]
        out.extend(
            int(a.get("modificationTime", 0) or 0) for a in s._overlay.values()
        )
        return out


def _delta_leaf_arrow_types(schema_string: str | None) -> list[tuple[str, object]]:
    """(physical name, arrow type) for every top-level primitive column
    — the explicit schema for the one-shot stats parse. Date/timestamp
    stats stay STRINGS so vectorized pruning compares them exactly the
    way the scalar path always has (ISO-lexicographic)."""
    import pyarrow as pa

    if not schema_string:
        return []
    out: list[tuple[str, object]] = []
    for f in json.loads(schema_string).get("fields", []):
        t = f.get("type")
        if not isinstance(t, str):
            continue  # nested — scalar stats never pruned these either
        phys = (f.get("metadata") or {}).get("delta.columnMapping.physicalName") or f["name"]
        if t in ("byte", "short", "integer", "long"):
            out.append((phys, pa.int64()))
        elif t in ("float", "double") or t.startswith("decimal"):
            out.append((phys, pa.float64()))
        elif t == "boolean":
            out.append((phys, pa.bool_()))
        elif t in ("string", "date", "timestamp", "timestamp_ntz"):
            out.append((phys, pa.string()))
        # binary / null / variant: not stats-prunable
    return out


_GEN_DATE_RE = re.compile(
    r"^\s*(?:CAST\s*\(\s*`?(\w+)`?\s+AS\s+DATE\s*\)|DATE\s*\(\s*`?(\w+)`?\s*\))\s*$",
    re.IGNORECASE,
)
_GEN_SUBSTR_RE = re.compile(
    r"^\s*SUBSTRING\s*\(\s*`?(\w+)`?\s*,\s*1\s*,\s*(\d+)\s*\)\s*$", re.IGNORECASE
)
_GEN_YEAR_RE = re.compile(r"^\s*YEAR\s*\(\s*`?(\w+)`?\s*\)\s*$", re.IGNORECASE)


def _generated_partition_filters(
    snap: "Snapshot", filters: list[tuple[str, str, object]]
) -> list[tuple[str, str, object]]:
    """Implied partition predicates from filters on the SOURCE column
    of a generated partition column (delta-spark's generated-column
    partition pruning, Delta docs "Use generated columns"): for a
    MONOTONE non-decreasing generation expression g = f(c), c ≥ v
    implies g ≥ f(v) (strict ops weaken to their inclusive forms —
    sound: never prunes a matching file). Recognized expressions:
    CAST(c AS DATE) / DATE(c) (monotone in timestamps), SUBSTRING(c,1,n)
    (prefix — lexicographically monotone in strings), and YEAR(c)
    (equality only: the int partition encoding is not string-order-safe
    for ranges). Unparsed expressions derive nothing — pruning stays
    conservative."""
    import datetime as _dt

    if not snap.schema_string:
        return []
    derived: list[tuple[str, str, object]] = []
    weakened = {"=": "=", ">": ">=", ">=": ">=", "<": "<=", "<=": "<="}
    for f in json.loads(snap.schema_string).get("fields", []):
        if f["name"] not in snap.partition_columns:
            continue
        expr = (f.get("metadata") or {}).get("delta.generationExpression")
        if not expr:
            continue
        m_date = _GEN_DATE_RE.match(expr)
        m_sub = _GEN_SUBSTR_RE.match(expr)
        m_year = _GEN_YEAR_RE.match(expr)
        for col, op, val in filters:
            if op not in weakened:
                continue
            if m_date and col == (m_date.group(1) or m_date.group(2)):
                if isinstance(val, _dt.datetime):
                    # tz-aware values were CAST in the SESSION timezone,
                    # not their own — .date() in the wrong zone can land
                    # a day high and prune a matching file. No-derive is
                    # always sound; naive datetimes stay derivable.
                    if val.tzinfo is not None:
                        continue
                    fv: object = val.date()
                elif isinstance(val, _dt.date):
                    fv = val
                elif isinstance(val, str) and len(val) >= 10:
                    try:
                        fv = _dt.date.fromisoformat(val[:10])
                    except ValueError:
                        continue
                else:
                    continue
                derived.append((f["name"], weakened[op], fv))
            elif m_sub and col == m_sub.group(1) and isinstance(val, str):
                derived.append((f["name"], weakened[op], val[: int(m_sub.group(2))]))
            elif m_year and col == m_year.group(1) and op == "=":
                if isinstance(val, (_dt.date, _dt.datetime)):
                    if getattr(val, "tzinfo", None) is not None:
                        continue  # same session-tz hazard as CAST AS DATE
                    derived.append((f["name"], "=", val.year))
                elif isinstance(val, str) and len(val) >= 4 and val[:4].isdigit():
                    derived.append((f["name"], "=", int(val[:4])))
    return derived


def _parse_interval_ms(value: str | None, default_ms: int) -> int:
    """delta-spark interval property parser ("interval 7 days",
    "interval 12 hours", bare "168 hours" accepted too). Unparseable
    values fail LOUDLY — a typo silently falling back to the default
    could vacuum live-reader files early."""
    if not value:
        return default_ms
    m = re.match(
        r"^\s*(?:interval\s+)?(\d+)\s*"
        r"(millisecond|second|minute|hour|day|week)s?\s*$",
        str(value), re.IGNORECASE,
    )
    if not m:
        raise DeltaProtocolError(f"unparseable interval: {value!r}")
    unit_ms = {"millisecond": 1, "second": 1000, "minute": 60_000,
               "hour": 3_600_000, "day": 86_400_000, "week": 604_800_000}
    return int(m.group(1)) * unit_ms[m.group(2).lower()]


def _pv_str_admits(v: str | None, op: str, sval: str) -> bool:
    """Scalar partition-value predicate over canonical strings (None —
    an explicit-null partition value — satisfies nothing)."""
    if v is None:
        return False
    return {
        "=": v == sval,
        ">": v > sval,
        ">=": v >= sval,
        "<": v < sval,
        "<=": v <= sval,
    }[op]


def _pcol_types(
    schema_string: str | None, partition_columns: list[str]
) -> dict[str, object]:
    """PHYSICAL partition-column name → schema type (string form for
    primitives)."""
    if not schema_string:
        return {}
    out: dict[str, object] = {}
    for f in json.loads(schema_string).get("fields", []):
        if f["name"] in partition_columns:
            phys = (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName"
            ) or f["name"]
            out[phys] = f.get("type")
    return out


def _rangeable_pcols(
    schema_string: str | None, partition_columns: list[str]
) -> frozenset:
    """PHYSICAL names of partition columns whose canonical
    partitionValues string encoding preserves order under plain string
    comparison: dates ('yyyy-MM-dd' is lexicographically monotone) and
    strings themselves. Numeric partition strings are NOT ('9' > '10'),
    so they stay equality-only."""
    return frozenset(
        p
        for p, t in _pcol_types(schema_string, partition_columns).items()
        if t in ("date", "string")
    )


_DATE_CANON_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def _canon_pv_filter(
    op: str, val: object, ptype: object
) -> tuple[str, str] | None:
    """Canonicalize a filter value for comparison against a canonical
    partitionValues STRING, given the partition column's schema type.
    Returns ``(sval, effective_op)`` or None — None skips pv pruning
    for this (filter, column) pair, which is always sound (stats
    pruning still applies; admitting more files never drops rows).

    The hazard this guards: a datetime filter value on a date partition
    stringifies as '2024-01-05 00:00:00', so pv '2024-01-05' < sval
    would deny the file under '>=' even though event_date = 2024-01-05
    rows satisfy the predicate after Spark's date→timestamp coercion.
    Strict/range ops against a date partition weaken to the inclusive
    date bound (over-admits at most one boundary day — sound)."""
    import datetime as _dt

    if ptype == "date":
        if isinstance(val, _dt.datetime):
            if val.tzinfo is not None:
                return None  # session-tz coercion unknown here
            d = val.date().isoformat()
            if op == "=":
                # date = non-midnight timestamp is never true, but
                # admit rather than prune-all: cheap and obviously sound
                return (d, "=") if val.time() == _dt.time(0) else None
            if op in (">", ">="):
                return (d, ">=")
            if op in ("<", "<="):
                return (d, "<=")
            return None
        if isinstance(val, _dt.date):
            return (val.isoformat(), op)
        if isinstance(val, str) and _DATE_CANON_RE.match(val):
            return (val, op)
        return None
    if isinstance(val, (_dt.date, _dt.datetime)):
        # temporal value against a non-date partition (e.g. timestamp
        # partitions, whose canonical encoding differs from str()) —
        # no sound string comparison without the session tz; skip
        return None
    if isinstance(val, bool):
        return ("true" if val else "false", op)  # canonical, not 'True'
    return (str(val), op)


class _PruneIndex:
    """Columnar data-skipping index over a snapshot's live files:
    every file's partition values and min/max stats are parsed ONCE
    (arrow ndjson, C++-side, under an explicit schema derived from the
    table schema) into typed arrays; each ``prune`` is then a handful
    of numpy mask ops instead of a per-file python loop re-running
    ``json.loads`` per query. Semantics are pinned to the scalar path
    (`_stats_admit`): missing stats admit, missing columns admit,
    incomparable types admit."""

    def __init__(
        self, paths_col, pv_cols, pv_notna, min_cols, max_cols, pv_view,
        pv_rangeable=frozenset(), pv_types=None,
    ):
        self._paths_col = paths_col  # arrow string array, store order
        self._pv = pv_cols  # phys pcol → arrow string array
        self._pv_notna = pv_notna  # phys pcol → np bool array
        # phys col → ("np"|"arrow", values, notna np bool array)
        self._min = min_cols
        self._max = max_cols
        self._pv_view = pv_view  # exact per-path fallback for ambiguous nulls
        # partition columns whose CANONICAL string encoding is
        # order-preserving (date 'yyyy-MM-dd', plain strings) — range
        # ops on pv are sound for exactly these
        self._pv_rangeable = pv_rangeable
        self._pv_types = pv_types or {}  # phys pcol → schema type

    @staticmethod
    def build(
        store: _LiveStore, schema_string: str | None, partition_columns: list[str]
    ) -> "_PruneIndex":
        import io

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyarrow import json as pa_json

        overlay = store._overlay
        removed = store._removed

        def clean_json(col):
            """null / empty → the "{}" no-information line."""
            col = pc.fill_null(col, "{}")
            return pc.if_else(pc.equal(col, ""), pa.scalar("{}"), col)

        # per base: arrow path / stats / pv columns with superseded rows
        # (removed or shadowed by the replay overlay) filtered out —
        # pc.is_in against the SMALL superseded set, never a python loop
        shadow = (
            pa.array(sorted(removed | set(overlay)), type=pa.string())
            if (removed or overlay)
            else None
        )
        path_parts: list = []
        stats_parts: list = []
        bases_kept: list[tuple[_AddColumns, object]] = []  # (base, keep mask|None)
        for b in store._bases:
            pcol = b.paths_arrow()
            keep = None
            if shadow is not None and len(shadow):
                drop = pc.is_in(pcol, value_set=shadow)
                if pc.any(drop).as_py():
                    keep = pc.invert(drop)
                    pcol = pcol.filter(keep)
            path_parts.append(pcol)
            st = b.stats_arrow()
            st = (
                pa.nulls(len(b), pa.string())
                if st is None
                else st.cast(pa.string())
            )
            if keep is not None:
                st = st.filter(keep)
            stats_parts.append(clean_json(st))
            bases_kept.append((b, keep))
        opaths = list(overlay)
        if opaths:
            path_parts.append(pa.array(opaths, type=pa.string()))
            o_stats = []
            for p in opaths:
                s = overlay[p].get("stats")
                if isinstance(s, dict):
                    s = json.dumps(s)
                o_stats.append(s if isinstance(s, str) and s else "{}")
            stats_parts.append(pa.array(o_stats, type=pa.string()))

        def concat(parts):
            chunks = []
            for x in parts:
                chunks.extend(x.chunks if isinstance(x, pa.ChunkedArray) else [x])
            return pa.chunked_array(chunks or [pa.array([], type=pa.string())])

        paths_col = concat(path_parts).combine_chunks()
        n = len(paths_col)

        def ndjson(col):
            """One C-side join of a string column into ndjson bytes."""
            flat = col.combine_chunks()
            lst = pa.LargeListArray.from_arrays(
                pa.array([0, len(flat)], type=pa.int64()), flat
            )
            return io.BytesIO(pc.binary_join(lst, "\n")[0].as_py().encode())

        # --- partition-value columns (explicit all-string schema so a
        # date-typed partition never gets arrow's timestamp inference) ---
        phys_by_logical = {}
        if schema_string:
            for f in json.loads(schema_string).get("fields", []):
                phys_by_logical[f["name"]] = (f.get("metadata") or {}).get(
                    "delta.columnMapping.physicalName"
                ) or f["name"]
        pcols_phys = [phys_by_logical.get(c, c) for c in partition_columns]
        pv_cols: dict[str, object] = {}
        pv_notna: dict[str, object] = {}
        if pcols_phys and n:
            per_col: dict[str, list] = {c: [] for c in pcols_phys}
            for b, keep in bases_kept:
                if b.dialect == "compact":
                    raw = clean_json(
                        b.pv_arrow() if keep is None else b.pv_arrow().filter(keep)
                    )
                    schema = pa.schema([(c, pa.string()) for c in pcols_phys])
                    t = pa_json.read_json(
                        ndjson(raw),
                        parse_options=pa_json.ParseOptions(
                            explicit_schema=schema,
                            unexpected_field_behavior="ignore",
                        ),
                    )
                    for c in pcols_phys:
                        per_col[c].append(t.column(c))
                else:
                    for c in pcols_phys:
                        vals = b.pv_lookup(c)
                        if keep is not None:
                            vals = vals.filter(keep)
                        per_col[c].append(vals)
            if opaths:
                for c in pcols_phys:
                    per_col[c].append(
                        pa.array(
                            [
                                (overlay[p].get("partitionValues") or {}).get(c)
                                for p in opaths
                            ],
                            type=pa.string(),
                        )
                    )
            for c in pcols_phys:
                arr = concat(per_col[c]).combine_chunks()
                pv_cols[c] = arr
                pv_notna[c] = pc.is_valid(arr).to_numpy(zero_copy_only=False).astype(bool)

        # --- stats columns: ONE ndjson parse for the whole snapshot ---
        min_cols: dict[str, tuple] = {}
        max_cols: dict[str, tuple] = {}
        leaf = _delta_leaf_arrow_types(schema_string)
        if leaf and n:
            stat_struct = pa.struct(leaf)
            schema = pa.schema(
                [("minValues", stat_struct), ("maxValues", stat_struct)]
            )
            t = pa_json.read_json(
                ndjson(concat(stats_parts)),
                parse_options=pa_json.ParseOptions(
                    explicit_schema=schema, unexpected_field_behavior="ignore"
                ),
            )
            for side, out in (("minValues", min_cols), ("maxValues", max_cols)):
                col = t.column(side)
                for name, _typ in leaf:
                    arr = pc.struct_field(col, name)
                    notna = (
                        pc.is_valid(arr).to_numpy(zero_copy_only=False).astype(bool)
                    )
                    if pa.types.is_integer(arr.type):
                        # exact int64 (a float64 detour would round
                        # >2^53 stats the scalar path compares exactly)
                        vals = pc.fill_null(arr, 0).to_pandas().to_numpy(dtype="int64")
                        out[name] = ("np", vals, notna)
                    elif pa.types.is_floating(arr.type):
                        vals = arr.to_pandas().to_numpy(
                            dtype="float64", na_value=np.nan
                        )
                        out[name] = ("np", vals, notna)
                    else:  # strings / bools stay arrow — no python widening
                        out[name] = ("arrow", arr.combine_chunks(), notna)

        return _PruneIndex(
            paths_col, pv_cols, pv_notna, min_cols, max_cols, _PVView(store),
            _rangeable_pcols(schema_string, partition_columns),
            _pcol_types(schema_string, partition_columns),
        )

    def prune(self, filters: list[tuple[str, str, object]]) -> list[str]:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def as_np(mask) -> "np.ndarray":
            return pc.fill_null(mask, False).to_numpy(zero_copy_only=False).astype(bool)

        n = len(self._paths_col)
        admit = np.ones(n, dtype=bool)
        for col, op, val in filters:
            # partition pruning: equality always; ranges for columns
            # whose canonical string encoding is order-preserving
            # (dates/strings — generated-column date partitions land
            # here via the derived filters in DeltaTable.read)
            pv = self._pv.get(col)
            pv_cmp = {
                "=": lambda a, s: pc.invert(pc.equal(a, s)),
                ">": pc.less_equal,
                ">=": pc.less,
                "<": pc.greater_equal,
                "<=": pc.greater,
            }
            canon = (
                _canon_pv_filter(op, val, self._pv_types.get(col))
                if pv is not None
                else None
            )
            if canon is not None and (
                canon[1] == "=" or col in self._pv_rangeable
            ) and canon[1] in pv_cmp:
                sval, eop = canon
                notna = self._pv_notna[col]
                deny = notna & as_np(pv_cmp[eop](pv, sval))
                # null = absent-key OR explicit-null: absent admits,
                # explicit null denies (scalar: None never satisfies)
                for i in np.flatnonzero(~notna):
                    d = self._pv_view.get(self._paths_col[i].as_py(), {})
                    if col in d and not _pv_str_admits(d[col], eop, sval):
                        deny[i] = True
                admit &= ~deny
            # stats pruning
            mn = self._min.get(col)
            mx = self._max.get(col)
            if mn is not None and mx is not None:
                kind, lo, lo_ok = mn
                _, hi, hi_ok = mx
                both = lo_ok & hi_ok
                if not both.any():
                    continue
                deny = np.zeros(n, dtype=bool)
                try:
                    if kind == "np":
                        sub = np.flatnonzero(both)
                        if op in (">", ">="):
                            deny[sub] = hi[sub] < val
                        elif op in ("<", "<="):
                            deny[sub] = lo[sub] > val
                        elif op == "=":
                            deny[sub] = (lo[sub] > val) | (hi[sub] < val)
                        else:
                            continue
                    else:  # arrow strings / bools — compared C-side
                        if op in (">", ">="):
                            m = pc.less(hi, val)
                        elif op in ("<", "<="):
                            m = pc.greater(lo, val)
                        elif op == "=":
                            m = pc.or_(pc.greater(lo, val), pc.less(hi, val))
                        else:
                            continue
                        deny = as_np(m) & both
                except (TypeError, pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
                    continue  # incomparable types: admit (scalar parity)
                admit &= ~deny
        return sorted(self._paths_col.filter(pa.array(admit)).to_pylist())


def _info_ms(info: dict | None) -> int | None:
    """A commitInfo's timestamp: its inCommitTimestamp when present
    (authoritative over the wall clock), else its ``timestamp``."""
    if info and "inCommitTimestamp" in info:
        return int(info["inCommitTimestamp"])
    if info and "timestamp" in info:
        return int(info["timestamp"])
    return None


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
# the characters Spark percent-escapes in a partition directory name
# (ExternalCatalogUtils.escapePathName)
_HIVE_ESCAPED = frozenset('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 32)}


def hive_segment(value: str | None) -> str:
    """A protocol-form partition value as a ``k=<segment>`` directory
    name: null is the Hive default partition, and path-unsafe
    characters are percent-escaped."""
    if value is None:
        return _HIVE_NULL
    return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPED else c for c in value)


def hive_value(segment: str) -> str | None:
    """The inverse of ``hive_segment``: a directory segment as the
    protocol's ``partitionValues`` form (the raw value, null as None)."""
    import urllib.parse

    return None if segment == _HIVE_NULL else urllib.parse.unquote(segment)


def _deleting_dv(action: dict) -> dict | None:
    """An add or remove action's deletion vector when it deletes rows."""
    dv = action.get("deletionVector")
    return dv if dv and int(dv.get("cardinality") or 0) > 0 else None


class _ScanFile(NamedTuple):
    """A live file as ``DeltaTable._scan`` reads it (``ChangeFile``
    carries the same three fields)."""

    path: str
    partition_values: dict  # protocol form: raw strings, null as None
    dv: dict | None  # deletion-vector descriptor, only when rows are deleted


class ChangeFile(NamedTuple):
    """One data-changing file of a commit, as every change reader sees
    it (``DeltaTable.change_log``)."""

    path: str
    op: str  # OP_INSERT, OP_DELETE, or "cdf" for a _change_data file
    version: int
    ts_ms: int  # event time
    partition_values: dict  # protocol form: raw strings, null as None
    size: int  # log-recorded bytes, 0 when unknown
    dv: dict | None  # deletion-vector descriptor, only when rows are deleted
    epoch: int  # index into ChangeLog.epochs
    stats: str | None


class Epoch(NamedTuple):
    """Partition columns, schema and configuration in force from the
    commit ``version`` on."""

    version: int
    partition_columns: tuple[str, ...]
    schema_string: str | None
    configuration: dict


class ChangeLog(NamedTuple):
    files: list[ChangeFile]
    # epochs[0] is None: the state entering the walked range, which the
    # walk does not read (only a Spark scan needs it, and resolves it
    # from a snapshot); each later epoch opened at a metaData action
    epochs: list[Epoch | None]


class DeltaTable:
    def __init__(self, path: str, fs: FileSystem | None = None):
        self.path = path
        self.log_dir = os.path.join(path, "_delta_log")
        self.fs = fs or LocalFileSystem()
        self._crc_checked: set[int] = set()  # versions already validated

    # ---------- log reading ----------

    def exists(self) -> bool:
        return self.fs.isdir(self.log_dir)

    def versions(self) -> list[int]:
        """All commit versions visible in the log: JSON commits plus any
        checkpointed versions whose JSON was expired."""
        if not self.exists():
            raise DeltaProtocolError(f"not a delta table: {self.path}")
        out = set()
        for name in self.fs.listdir(self.log_dir):
            if name.endswith(".json") and name[: -len(".json")].isdigit():
                out.add(int(name[: -len(".json")]))
            elif ".checkpoint." in name:
                parsed = _parse_checkpoint_name(name)
                if parsed is not None:
                    out.add(parsed[0])
                elif (p2 := _parse_v2_checkpoint_name(name)) is not None:
                    out.add(p2[0])
                else:
                    raise DeltaProtocolError(f"unsupported checkpoint layout: {name}")
        return sorted(out)

    def json_versions(self) -> list[int]:
        return sorted(
            int(n[: -len(".json")])
            for n in self.fs.listdir(self.log_dir)
            if n.endswith(".json") and n[: -len(".json")].isdigit()
        )

    # ---------- log compaction files (minor compaction) ----------

    def _compaction_ranges(self) -> dict[int, tuple[int, str]]:
        """start → (end, path) of available log compaction files,
        keeping the WIDEST range per start version."""
        out: dict[int, tuple[int, str]] = {}
        if not self.exists():
            return out
        for n in self.fs.listdir(self.log_dir):
            if not n.endswith(".compacted.json"):
                continue
            parts = n[: -len(".compacted.json")].split(".")
            if len(parts) == 2 and all(p.isdigit() for p in parts):
                s, e = int(parts[0]), int(parts[1])
                cur = out.get(s)
                if cur is None or e > cur[0]:
                    out[s] = (e, os.path.join(self.log_dir, n))
        return out

    def compact_log(self, start: int, end: int) -> str:
        """Minor log compaction (Delta PROTOCOL.md "Log Compaction
        Files"): write ``<start>.<end>.compacted.json`` holding the
        range's RECONCILED actions — net-live adds, the latest remove
        tombstone per net-removed path, last-wins metaData / protocol /
        domainMetadata, latest txn per appId. Snapshot replay then reads
        ONE file for the range instead of ``end-start+1`` commits — the
        between-checkpoints accelerator for a table taking thousands of
        small streaming commits a day. Purely additive: commit files
        stay, foreign readers that predate compaction ignore the file
        (its stem is not a bare version number)."""
        vs = [v for v in self.json_versions() if start <= v <= end]
        if start > end or vs != list(range(start, end + 1)):
            raise DeltaProtocolError(
                f"log compaction needs contiguous json commits {start}..{end}"
            )
        live_in: dict[str, dict] = {}
        removed: dict[str, dict] = {}
        last: dict[str, dict] = {}  # commitInfo / protocol / metaData, last wins
        doms: dict[str, dict] = {}
        txns: dict[str, dict] = {}
        for v in vs:
            for a in self.actions(v):
                if "add" in a:
                    live_in[a["add"]["path"]] = a["add"]
                    removed.pop(a["add"]["path"], None)
                elif "remove" in a:
                    removed[a["remove"]["path"]] = a["remove"]
                    live_in.pop(a["remove"]["path"], None)
                elif "domainMetadata" in a:
                    doms[a["domainMetadata"]["domain"]] = a["domainMetadata"]
                elif "txn" in a:
                    txns[a["txn"]["appId"]] = a["txn"]
                else:
                    last.update(a)
        actions: list[dict] = [
            {k: last[k]} for k in ("commitInfo", "protocol", "metaData") if k in last
        ]
        actions.extend({"txn": t} for _k, t in sorted(txns.items()))
        actions.extend({"domainMetadata": d} for _k, d in sorted(doms.items()))
        actions.extend({"remove": r} for _p, r in sorted(removed.items()))
        actions.extend({"add": ad} for _p, ad in sorted(live_in.items()))
        name = f"{start:020d}.{end:020d}.compacted.json"
        self.fs.write_text(
            os.path.join(self.log_dir, name),
            "".join(json.dumps(a) + "\n" for a in actions),
        )
        return name

    def checkpoint_versions(self) -> list[int]:
        """Versions with a COMPLETE checkpoint: classic (all parts
        present) or a UUID-named V2 checkpoint file (complete by
        construction — its sidecars are referenced from inside it)."""
        if not self.exists():
            return []
        seen: dict[int, set[tuple[int, int]]] = {}
        v2: set[int] = set()
        for n in self.fs.listdir(self.log_dir):
            parsed = _parse_checkpoint_name(n)
            if parsed is not None:
                v, part, num = parsed
                seen.setdefault(v, set()).add((part, num))
            elif (p2 := _parse_v2_checkpoint_name(n)) is not None:
                v2.add(p2[0])
        out = set(v2)
        for v, parts in seen.items():
            nums = {num for _p, num in parts}
            if len(nums) == 1:
                num = nums.pop()
                if {p for p, _n in parts} == set(range(1, num + 1)):
                    out.add(v)
        return sorted(out)

    def _checkpoint_files(self, version: int) -> list[str]:
        """Absolute paths of the checkpoint part files for a version, in
        part order — or the (single) V2 checkpoint file when no classic
        checkpoint exists at that version. Multiple V2 files for one
        version are equivalent by spec; the lexicographically first is
        used for determinism."""
        found: list[tuple[int, str]] = []
        v2: list[str] = []
        for n in self.fs.listdir(self.log_dir):
            parsed = _parse_checkpoint_name(n)
            if parsed is not None and parsed[0] == version:
                found.append((parsed[1], os.path.join(self.log_dir, n)))
            elif (p2 := _parse_v2_checkpoint_name(n)) is not None and p2[0] == version:
                v2.append(os.path.join(self.log_dir, n))
        if found:
            return [p for _i, p in sorted(found)]
        return sorted(v2)[:1]

    def latest_version(self) -> int:
        versions = self.versions()
        if not versions:
            raise DeltaProtocolError(f"empty delta log: {self.log_dir}")
        return versions[-1]

    def actions(self, version: int) -> list[dict]:
        fp = os.path.join(self.log_dir, f"{version:020d}.json")
        return [json.loads(line) for line in self.fs.read_text(fp).splitlines() if line.strip()]

    def _last_ict(self) -> int:
        """The latest commit's effective timestamp for in-commit-
        timestamp monotonicity (its inCommitTimestamp when present, else
        its wall timestamp — the spec's enablement boundary). Lazy line
        scan via _commit_carried_ms: a 10^4-add predecessor commit is
        not fully parsed on every ICT commit."""
        vs = self.json_versions()
        if not vs:
            return 0
        return self._commit_carried_ms(vs[-1]) or 0

    def _commit_carried_ms(self, version: int) -> int | None:
        """commitInfo-carried timestamp for a commit's JSON (ICT
        authoritative over wall), or None when the JSON was expired or
        carries no commitInfo — callers that need monotonicity (the ICT
        binary search) must treat None as 'no exact value', never
        substitute a checkpoint/file mtime (non-monotone vs ICTs).
        Lazy line scan stopping at the first commitInfo: a commit
        carrying 10^4 adds must not be fully parsed just to read its
        timestamp."""
        fp = os.path.join(self.log_dir, f"{version:020d}.json")
        if not self.fs.exists(fp):
            return None
        for line in self.fs.read_text(fp).splitlines():
            if not line.strip() or '"commitInfo"' not in line:
                continue
            ts = _info_ms(json.loads(line).get("commitInfo"))
            if ts is not None:
                return ts
        return None

    def commit_timestamp_ms(self, version: int) -> int:
        ts = self._commit_carried_ms(version)
        if ts is not None:
            return ts
        fp = os.path.join(self.log_dir, f"{version:020d}.json")
        if self.fs.exists(fp):
            return self.fs.mtime_ms(fp)
        if version in self.checkpoint_versions():
            return self._load_checkpoint(version)["timestamp"]
        raise DeltaProtocolError(f"version {version} not present in log")

    def resolve_version(self, version: int | None = None, timestamp_ms: int | None = None) -> int:
        """Reference semantics: -1/None/missing → latest; timestamp →
        greatest version with commit ts ≤ timestamp, else latest."""
        versions = self.versions()
        latest = versions[-1]
        if timestamp_ms is not None:
            return self._resolve_timestamp(versions, timestamp_ms)
        if version is None or version < 0 or version not in versions:
            return latest
        return version

    def _resolve_timestamp(self, versions: list[int], timestamp_ms: int) -> int:
        """Greatest version with commit ts ≤ timestamp, else latest.

        When the table runs in-commit timestamps, the enablement
        provenance properties (PROTOCOL.md "In-Commit Timestamps":
        delta.inCommitTimestampEnablement{Version,Timestamp}; absent →
        enabled since v0) split history into a pre-ICT prefix resolved
        by wall timestamps and an ICT suffix whose timestamps are
        STRICTLY increasing by spec — so the suffix is binary-searched:
        O(log n) commit reads instead of O(n) on a 10^5-commit table.
        Tables without ICT (or with a disable in their history, which
        clears the properties) keep the linear scan — wall clocks give
        no monotonicity to search against."""
        latest = versions[-1]
        cfg = self.snapshot().configuration or {}
        if cfg.get("delta.enableInCommitTimestamps") == "true":
            en_v = int(cfg.get("delta.inCommitTimestampEnablementVersion") or 0)
            ict_region = [v for v in versions if v >= en_v]
            if not ict_region:
                # a foreign writer (or corrupt property) claims ICT
                # was enabled at a version beyond every retained
                # commit — there is no ICT suffix to search and the
                # claim itself is unverifiable; refuse by name rather
                # than IndexError below
                raise DeltaProtocolError(
                    f"delta.inCommitTimestampEnablementVersion={en_v} "
                    f"exceeds every retained version (latest {latest}) "
                    "— cannot resolve by timestamp; time-travel by "
                    "version instead"
                )
            # only commits whose JSON survives can steer the search: a
            # checkpoint/file-mtime substitute (commit_timestamp_ms's
            # fallback) is non-monotone vs neighboring ICTs and would
            # silently resolve the WRONG version after log expiry
            jv = set(self.json_versions())
            live = [v for v in ict_region if v in jv]

            def probe(v: int) -> int:
                ts = self._commit_carried_ms(v)
                if ts is None:  # JSON present but no commitInfo stamp
                    raise DeltaProtocolError(
                        f"commit {v} in the in-commit-timestamp region "
                        "carries no commitInfo timestamp — cannot resolve "
                        "by timestamp; time-travel by version instead"
                    )
                return ts

            def expired_error() -> "DeltaProtocolError":
                return DeltaProtocolError(
                    f"cannot resolve timestamp {timestamp_ms}: the "
                    "in-commit-timestamp history before the log "
                    "retention boundary has expired — expired commits "
                    "are not timestamp-addressable; time-travel by "
                    "version instead"
                )

            en_ts_prop = cfg.get("delta.inCommitTimestampEnablementTimestamp")
            en_ts = (
                int(en_ts_prop)
                if en_ts_prop
                else (probe(ict_region[0]) if ict_region[0] in jv else None)
            )
            if en_ts is not None and timestamp_ms < en_ts:
                versions = [v for v in versions if v < en_v]
            else:
                if not live:
                    raise expired_error()
                if live[0] != ict_region[0] and timestamp_ms < probe(live[0]):
                    # the target lands in the expired ICT prefix: the
                    # correct answer is an expired version we cannot
                    # identify — refuse loudly, never guess
                    raise expired_error()
                lo, hi = 0, len(live) - 1  # live[0] eligible
                while lo < hi:
                    mid = (lo + hi + 1) // 2
                    if probe(live[mid]) <= timestamp_ms:
                        lo = mid
                    else:
                        hi = mid - 1
                return live[lo]
        eligible = [v for v in versions if self.commit_timestamp_ms(v) <= timestamp_ms]
        return eligible[-1] if eligible else latest

    def snapshot(self, version: int | None = None, timestamp_ms: int | None = None) -> Snapshot:
        v = self.resolve_version(version, timestamp_ms)
        replay = _Replay()
        replay_from = 0
        usable_ckpts = [c for c in self.checkpoint_versions() if c <= v]
        if usable_ckpts:
            ck = self._load_checkpoint(usable_ckpts[-1])
            replay = _Replay(ck["live_bases"], ck["live_extra"], (), ck["metadata"],
                             ck.get("protocol"), ck.get("domain_metadata"), ck["txns"])
            replay_from = usable_ckpts[-1] + 1
        # minor log compactions: a range file standing in for its
        # commits — replay reads ONE file and jumps past the range
        compactions = self._compaction_ranges()
        skip_until = -1
        for ver in self.json_versions():
            if ver < replay_from or ver > v or ver <= skip_until:
                continue
            comp = compactions.get(ver)
            if comp is not None and comp[0] <= v:
                acts = [
                    json.loads(line)
                    for line in self.fs.read_text(comp[1]).splitlines()
                    if line.strip()
                ]
                skip_until = comp[0]
            else:
                acts = self.actions(ver)
            replay.apply(acts)
        snap = replay.snapshot(v)
        if v not in self._crc_checked:
            # once per (table handle, version): the committer's .crc
            # sidecar must agree with this replay — corruption tripwire
            self._validate_checksum(snap)
            self._crc_checked.add(v)
        return snap

    def prune_files(self, snap: Snapshot, filters: list[tuple[str, str, object]]) -> list[str]:
        """Data skipping: drop files whose partition values or footer
        stats prove no row can match. Conservative on missing stats.
        Runs on the snapshot's columnar index (stats parsed once per
        snapshot, numpy mask per query); `_prune_files_scalar` is the
        per-file reference semantics and the fallback."""
        if not filters:
            return list(snap.files)
        idx = snap._data_skipping_index()
        if idx is not None:
            return idx.prune(filters)
        return self._prune_files_scalar(snap, filters)

    def _prune_files_scalar(
        self, snap: Snapshot, filters: list[tuple[str, str, object]]
    ) -> list[str]:
        rangeable = _rangeable_pcols(snap.schema_string, snap.partition_columns)
        ptypes = _pcol_types(snap.schema_string, snap.partition_columns)
        out = []
        for p in snap.files:
            pvals = snap.partition_values.get(p, {})
            admit = True
            for col, op, val in filters:
                canon = (
                    _canon_pv_filter(op, val, ptypes.get(col))
                    if col in pvals
                    else None
                )
                if (
                    canon is not None
                    and (canon[1] == "=" or col in rangeable)
                    and canon[1] in ("=", ">", ">=", "<", "<=")
                    and not _pv_str_admits(pvals[col], canon[1], canon[0])
                ):
                    admit = False
                    break
            if admit and _stats_admit(snap.adds.get(p, {}), filters):
                out.append(p)
        return out

    # ---------- checkpoints (O(1) snapshot for long logs) ----------

    def checkpoint(
        self,
        version: int | None = None,
        parts: int = 1,
        v2: bool = False,
        sidecars: int | None = None,
    ) -> int:
        """Collapse replay state through ``version`` (default latest)
        into a parquet checkpoint + ``_last_checkpoint``. Carries live
        adds, metadata, protocol, and the latest txn per appId so
        idempotent sinks survive log expiry.

        ``parts > 1`` writes the Delta multi-part layout
        ``<v>.checkpoint.<i>.<n>.parquet`` (row-sliced round-robin) —
        what any real large-file-count table has on disk; readers
        reassemble all parts (reference parity: delta-standalone reads
        these transparently through `DeltaLog.forTable`,
        `DeltaReader.java:301-303`)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        v = self.resolve_version(version)
        snap = self.snapshot(v)
        boundary = _ckpt_protection_boundary(
            snap if v == self.latest_version() else self.snapshot()
        )
        if v < boundary:
            raise DeltaProtocolError(
                f"checkpointProtection: refusing to create a checkpoint "
                f"at version {v}, below the protection boundary "
                f"{boundary} (delta.requireCheckpointProtectionBefore"
                f"Version) — pre-boundary history must stay untouched"
            )
        if v2 or "v2Checkpoint" in (snap.protocol.get("writerFeatures") or ()):
            # a table whose protocol demands v2Checkpoint MUST get v2
            # checkpoints (spec: classic checkpoints are forbidden there)
            return self._checkpoint_v2(v, snap, sidecars=sidecars)
        # the metaData action rides whole, as a JSON string the way the
        # domainMetadata rows carry theirs
        rows: list[dict] = [
            {"action_type": key, key: json.dumps(md)}
            for key, md in _metadata(snap).items()
        ]
        rows.append(
            {
                "action_type": "protocol",
                "minReaderVersion": snap.protocol.get("minReaderVersion", 1),
                "minWriterVersion": snap.protocol.get("minWriterVersion", 2),
                # features must survive the checkpoint or a post-expiry
                # reader would silently skip the DV/mapping gates
                "readerFeatures": json.dumps(snap.protocol["readerFeatures"])
                if "readerFeatures" in snap.protocol
                else None,
                "writerFeatures": json.dumps(snap.protocol["writerFeatures"])
                if "writerFeatures" in snap.protocol
                else None,
            }
        )
        for path in snap.files:
            a = snap.adds.get(path, {})
            dv = a.get("deletionVector")
            rows.append(
                {
                    "action_type": "add",
                    "path": path,
                    "partitionValues": json.dumps(a.get("partitionValues", {})),
                    # byte size survives expiry so the .crc version
                    # checksum stays validatable from a checkpoint base
                    "size": int(a["size"]) if a.get("size") is not None else None,
                    "modificationTime": int(a.get("modificationTime", 0) or 0),
                    "stats": a.get("stats"),
                    # dropping this would resurrect deleted rows after expiry
                    "deletionVector": json.dumps(dv) if dv else None,
                    # dropping these would renumber a row-tracked table
                    "baseRowId": a.get("baseRowId"),
                    "defaultRowCommitVersion": a.get("defaultRowCommitVersion"),
                }
            )
        for app_id, txn_v in snap.txns.items():
            rows.append({"action_type": "txn", "txn_appId": app_id, "txn_version": txn_v})
        for dm in snap.domain_metadata.values():
            # spec: writers must PRESERVE domain metadata across
            # checkpoints (liquid-clustering state lives here)
            rows.append(
                {"action_type": "domainMetadata", "domainMetadata": json.dumps(dm)}
            )
        cols = [
            "action_type",
            "path",
            "partitionValues",
            "size",
            "modificationTime",
            "stats",
            "metaData",
            "minReaderVersion",
            "minWriterVersion",
            "readerFeatures",
            "writerFeatures",
            "deletionVector",
            "baseRowId",
            "defaultRowCommitVersion",
            "txn_appId",
            "txn_version",
            "domainMetadata",
        ]
        ts = self.commit_timestamp_ms(v)
        if parts <= 1:
            slices = [rows]
            names = [f"{v:020d}.checkpoint.parquet"]
        else:
            slices = [rows[i::parts] for i in range(parts)]
            names = [
                f"{v:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet"
                for i in range(parts)
            ]
        for chunk, name in zip(slices, names):
            data = {c: [r.get(c) for r in chunk] for c in cols}
            data["commit_timestamp"] = [ts] * len(chunk)
            with self.fs.open_write(os.path.join(self.log_dir, name)) as f:
                pq.write_table(pa.table(data), f)
        self.fs.write_text(
            os.path.join(self.log_dir, "_last_checkpoint"),
            json.dumps({"version": v, "parts": parts}),
        )
        return v

    def _checkpoint_v2(self, v: int, snap: Snapshot, sidecars: int | None = None) -> int:
        """V2 spec checkpoint (Delta PROTOCOL.md "V2 Spec Checkpoints"):
        a UUID-named ``<v>.checkpoint.<uuid>.json`` manifest carrying
        checkpointMetadata + protocol + metaData + txns, with file
        actions either INLINE or sharded into ``_sidecars/*.parquet``
        (spec-layout ``add`` struct rows) referenced by ``sidecar``
        actions. ``sidecars`` forces a shard count; by default the
        writer shards automatically once the live-file count exceeds
        `_V2_SIDECAR_AUTO_ROWS` — the layout a real large-file-count
        table needs so no single manifest grows unboundedly (round 9,
        VERDICT r8 #9; the reader has consumed both forms since r8)."""
        actions: list[dict] = [
            {"checkpointMetadata": {"version": v}},
            {"protocol": dict(snap.protocol)},
            _metadata(snap),
        ]
        file_actions: list[dict] = []
        for path in snap.files:
            a = snap.adds.get(path, {})
            add = {
                "path": path,
                "partitionValues": a.get("partitionValues", {}),
                "size": int(a.get("size") or 0),
                "modificationTime": int(a.get("modificationTime", 0) or 0),
                "dataChange": False,
            }
            if a.get("stats"):
                add["stats"] = a["stats"]
            dv = a.get("deletionVector")
            if dv:
                add["deletionVector"] = dv
            # row-tracking identity must survive log expiry — a
            # checkpoint that dropped baseRowId would renumber the table
            for k in ("baseRowId", "defaultRowCommitVersion"):
                if k in a:
                    add[k] = a[k]
            file_actions.append(add)
        if sidecars is None and len(file_actions) > _V2_SIDECAR_AUTO_ROWS:
            sidecars = -(-len(file_actions) // _V2_SIDECAR_AUTO_ROWS)
        if sidecars and sidecars > 0 and file_actions:
            actions.extend(
                self._write_sidecars(file_actions, sidecars)
            )
        else:
            actions.extend({"add": add} for add in file_actions)
        for app_id, txn_v in snap.txns.items():
            actions.append({"txn": {"appId": app_id, "version": txn_v}})
        for dm in snap.domain_metadata.values():
            actions.append({"domainMetadata": dm})
        name = f"{v:020d}.checkpoint.{uuid.uuid4()}.json"
        self.fs.write_text(
            os.path.join(self.log_dir, name),
            "".join(json.dumps(a) + "\n" for a in actions),
        )
        self.fs.write_text(
            os.path.join(self.log_dir, "_last_checkpoint"),
            json.dumps({"version": v, "parts": 1}),
        )
        return v

    def _write_sidecars(self, adds: list[dict], k: int) -> list[dict]:
        """Shard ``adds`` into ``k`` spec-layout sidecar parquet files
        under ``_delta_log/_sidecars/`` and return the ``sidecar``
        actions referencing them. Each sidecar holds one nested ``add``
        struct column — exactly the shape delta-spark writes and our
        reader's ``split_spec`` already consumes columnar."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        dv_type = pa.struct(
            [
                ("storageType", pa.string()),
                ("pathOrInlineDv", pa.string()),
                ("offset", pa.int32()),
                ("sizeInBytes", pa.int32()),
                ("cardinality", pa.int64()),
                ("maxRowIndex", pa.int64()),
            ]
        )
        add_type = pa.struct(
            [
                ("path", pa.string()),
                ("partitionValues", pa.map_(pa.string(), pa.string())),
                ("size", pa.int64()),
                ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()),
                ("stats", pa.string()),
                ("deletionVector", dv_type),
                ("baseRowId", pa.int64()),
                ("defaultRowCommitVersion", pa.int64()),
            ]
        )
        side_dir = os.path.join(self.log_dir, "_sidecars")
        self.fs.makedirs(side_dir)
        out: list[dict] = []
        k = min(k, len(adds))
        for i in range(k):
            chunk = adds[i::k]
            rows = []
            for a in chunk:
                dv = a.get("deletionVector")
                rows.append(
                    {
                        "path": a["path"],
                        "partitionValues": list(
                            (a.get("partitionValues") or {}).items()
                        ),
                        "size": int(a.get("size") or 0),
                        "modificationTime": int(a.get("modificationTime") or 0),
                        "dataChange": False,
                        "stats": a.get("stats"),
                        "deletionVector": {
                            f.name: dv.get(f.name) for f in dv_type
                        }
                        if dv
                        else None,
                        "baseRowId": a.get("baseRowId"),
                        "defaultRowCommitVersion": a.get("defaultRowCommitVersion"),
                    }
                )
            tbl = pa.table({"add": pa.array(rows, type=add_type)})
            sname = f"{uuid.uuid4()}.parquet"
            spath = os.path.join(side_dir, sname)
            with self.fs.open_write(spath) as f:
                pq.write_table(tbl, f)
            out.append(
                {
                    "sidecar": {
                        "path": sname,
                        "sizeInBytes": self.fs.size(spath),
                        "modificationTime": self.fs.mtime_ms(spath),
                    }
                }
            )
        return out

    def _load_checkpoint(self, version: int) -> dict:
        """Parse the checkpoint at ``version`` into replay-base state.
        Three on-disk dialects are read transparently:
        - this engine's compact layout (``action_type`` column);
        - the SPEC classic layout (nested add/remove/metaData/protocol
          struct columns — what delta-spark / delta-rs write);
        - V2 spec checkpoints (UUID-named parquet or json, file actions
          inline or in ``_sidecars/`` parquet files).

        Add rows STAY COLUMNAR (``live_bases``: `_AddColumns` per
        parquet source); only metadata/txn/domain rows and inline-json
        adds are exploded into dicts (``live_extra``). The parsed
        result is cached per (version, file set, mtimes) — snapshot +
        txn replay + timestamp resolution within one query plan all
        reuse a single parquet read."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        files = self._checkpoint_files(version)
        if not files:
            raise DeltaProtocolError(f"no checkpoint at version {version}")
        key = (version, tuple((f, self.fs.mtime_ms(f)) for f in files))
        cached = getattr(self, "_ckpt_cache", None)
        if cached is not None and cached[0] == key:
            return cached[1]
        action_dicts: list[dict] = []
        legacy_rows: list[dict] = []
        bases: list[_AddColumns] = []

        def split_spec(tbl) -> None:
            """Spec-layout table → columnar add base + dict rest."""
            if "add" in tbl.column_names:
                valid = pc.is_valid(pc.struct_field(tbl.column("add"), "path"))
                add_rows = tbl.filter(valid)
                if add_rows.num_rows:
                    bases.append(_AddColumns(add_rows, "spec"))
                rest = tbl.filter(pc.invert(valid))
            else:
                rest = tbl
            action_dicts.extend(_spec_checkpoint_actions(rest.to_pylist()))

        for fp in files:
            if fp.endswith(".json"):  # V2 checkpoints may be json lines
                action_dicts.extend(
                    json.loads(line)
                    for line in self.fs.read_text(fp).splitlines()
                    if line.strip()
                )
                continue
            with self.fs.open_read(fp) as f:
                tbl = pq.read_table(f)
            if "action_type" in tbl.column_names:
                is_add = pc.equal(tbl.column("action_type"), "add")
                add_rows = tbl.filter(is_add)
                if add_rows.num_rows:
                    bases.append(_AddColumns(add_rows, "compact"))
                legacy_rows.extend(tbl.filter(pc.invert(is_add)).to_pylist())
            else:
                split_spec(tbl)
        if legacy_rows or any(b.dialect == "compact" for b in bases):
            out = self._parse_legacy_checkpoint(legacy_rows)
            if not out["timestamp"]:  # all-adds checkpoint: ts lives on add rows
                for b in bases:
                    if "commit_timestamp" in b.table.column_names and len(b):
                        out["timestamp"] = int(
                            b.table.column("commit_timestamp")[0].as_py() or 0
                        )
                        break
            out["live_bases"] = bases
            out["live_extra"] = {}
            self._ckpt_cache = (key, out)
            return out
        # V2: sidecar references carry the file actions (relative to
        # _delta_log/_sidecars/ per spec)
        for a in [x for x in action_dicts if "sidecar" in x]:
            sp = a["sidecar"]["path"]
            if not os.path.isabs(sp):
                sp = os.path.join(self.log_dir, "_sidecars", sp)
            with self.fs.open_read(sp) as f:
                split_spec(pq.read_table(f))
        live: dict[str, dict] = {}
        metadata: dict = {}
        protocol: dict = {"minReaderVersion": 1, "minWriterVersion": 2}
        txns: dict[str, int] = {}
        domains: dict[str, dict] = {}
        for a in action_dicts:
            if "add" in a:
                live[a["add"]["path"]] = a["add"]
            elif "metaData" in a:
                metadata = a["metaData"]
            elif "protocol" in a:
                protocol = a["protocol"]
                _check_protocol(protocol)
            elif "txn" in a:
                t = a["txn"]
                if t.get("appId"):
                    txns[t["appId"]] = max(
                        txns.get(t["appId"], -1), int(t.get("version", -1))
                    )
            elif "domainMetadata" in a:
                dm = a["domainMetadata"]
                if not dm.get("removed"):
                    domains[dm["domain"]] = dm
            # "remove" rows are vacuum tombstones — not snapshot state;
            # "checkpointMetadata" is self-describing version info
        out = {
            "live_bases": bases,
            "live_extra": live,
            "metadata": metadata,
            "protocol": protocol,
            "txns": txns,
            "domain_metadata": domains,
            # spec checkpoints carry no commit timestamp — file mtime is
            # the same approximation every vacuum/time-travel impl uses
            "timestamp": self.fs.mtime_ms(files[0]),
        }
        self._ckpt_cache = (key, out)
        return out

    def _parse_legacy_checkpoint(self, rows: list[dict]) -> dict:
        """Metadata/txn/domain rows of a compact-layout checkpoint (its
        add rows stay columnar in `_AddColumns` — the caller attaches
        them as ``live_bases``)."""
        metadata: dict = {}
        protocol: dict = {"minReaderVersion": 1, "minWriterVersion": 2}
        txns: dict[str, int] = {}
        domains: dict[str, dict] = {}
        ts = 0
        for r in rows:
            ts = int(r.get("commit_timestamp") or 0)
            if r["action_type"] == "metaData":
                if r.get("metaData"):
                    metadata = json.loads(r["metaData"])
                else:
                    # older writers flattened three fields and dropped the id
                    metadata = {
                        "schemaString": r["schemaString"],
                        "partitionColumns": json.loads(r["partitionColumns"] or "[]"),
                        "configuration": json.loads(r.get("configuration") or "{}"),
                    }
            elif r["action_type"] == "protocol":
                protocol = {
                    "minReaderVersion": int(r["minReaderVersion"] or 1),
                    "minWriterVersion": int(r.get("minWriterVersion") or 2),
                }
                if r.get("readerFeatures"):
                    protocol["readerFeatures"] = json.loads(r["readerFeatures"])
                if r.get("writerFeatures"):
                    protocol["writerFeatures"] = json.loads(r["writerFeatures"])
                _check_protocol(protocol)
            elif r["action_type"] == "txn":
                txns[r["txn_appId"]] = int(r["txn_version"])
            elif r["action_type"] == "domainMetadata":
                dm = json.loads(r["domainMetadata"])
                domains[dm["domain"]] = dm
        return {
            "metadata": metadata,
            "protocol": protocol,
            "txns": txns,
            "domain_metadata": domains,
            "timestamp": ts,
        }

    def expire_log(self, retention_ms: int | None = None) -> list[int]:
        """Delete JSON commits already covered by the newest checkpoint
        (log retention). Snapshot reads keep working via the checkpoint;
        CDC history before the checkpoint becomes unavailable (callers
        get a clear error).

        A commit expires only when BOTH checkpointed AND older than the
        retention window (delta-spark's rule). ``retention_ms=None``
        reads ``delta.logRetentionDuration`` when the table sets it;
        absent, this maintenance call expires everything checkpointed
        (retention 0 — delta-spark's own default is 30 days, applied
        here only via the property so an explicit maintenance sweep
        stays an explicit sweep)."""
        ckpts = self.checkpoint_versions()
        if not ckpts:
            raise DeltaProtocolError("no checkpoint — refusing to expire the only history")
        if retention_ms is None:
            retention_ms = _parse_interval_ms(
                (self.snapshot().configuration or {}).get("delta.logRetentionDuration"),
                default_ms=0,
            )
        horizon = ckpts[-1]
        ts_floor = int(time.time() * 1000) - retention_ms
        expired = [
            v for v in self.json_versions()
            if v <= horizon
            and (retention_ms == 0 or self.commit_timestamp_ms(v) <= ts_floor)
        ]
        boundary = _ckpt_protection_boundary(self.snapshot())
        if boundary and any(v < boundary for v in expired):
            # spec "Checkpoint Protection": commits below the boundary
            # may only vanish when the WHOLE protected prefix goes in
            # one sweep that reaches the boundary — piecemeal expiry
            # could strip a checkpoint pre-boundary time travel needs
            protected_left = [
                v
                for v in self.json_versions()
                if v < boundary and v not in set(expired)
            ]
            if horizon < boundary or protected_left:
                raise DeltaProtocolError(
                    "checkpointProtection: refusing partial cleanup of "
                    f"history below the protection boundary {boundary} — "
                    "checkpoint at or beyond the boundary (and let "
                    "retention cover the whole protected prefix) so it "
                    "can be truncated in a single sweep"
                )
        for v in expired:
            self.fs.remove(os.path.join(self.log_dir, f"{v:020d}.json"))
            crc = os.path.join(self.log_dir, f"{v:020d}.crc")
            if v < horizon and self.fs.exists(crc):
                # expired checksum sidecars go with their commits; the
                # HORIZON version's .crc stays — it still validates the
                # checkpoint-bootstrapped snapshot of that version
                self.fs.remove(crc)
        return expired

    # ---------- reading data ----------
    #
    # Every row a reader or a rewriter sees comes out of ``_scan``: one
    # epoch's files read under its schema and column mapping, per-file
    # columns from the log attached by one broadcast join, and rows the
    # deletion vectors delete removed. ``_live_rows`` feeds it a
    # snapshot's files, ``_scan_changes`` a change log's.

    def _read_files(
        self,
        spark: SparkSession,
        paths: list[str],
        schema,
        pcols: list[str],
        base_path: str | None = None,
    ) -> list[DataFrame]:
        """The parquet scans of ``paths`` under ``schema`` (the log's,
        physical names; None infers): one of the table's own files,
        with partition columns from the hive directories under
        ``base_path`` (default the table root), and one of ABSOLUTE-path
        adds (Delta PROTOCOL.md, the shallow-clone layout). Those live
        under another table's layout, so their partition columns
        ``pcols`` are typed nulls here and ``_scan`` fills them from
        the log. Both scans order columns as Spark's hive scan does:
        data columns, then partition columns. The log schema governs:
        files written before a schema evolution null-fill the new
        columns instead of letting inference drop them."""
        pin_session(spark)
        rel = [os.path.join(self.path, p) for p in paths if not os.path.isabs(p)]
        ext = [p for p in paths if os.path.isabs(p)]
        scans: list[DataFrame] = []
        if rel:
            reader = spark.read if schema is None else spark.read.schema(schema)
            scans.append(reader.option("basePath", base_path or self.path).parquet(*rel))
        if ext:
            if schema is None:
                raise DeltaProtocolError(
                    "absolute-path adds require a log schemaString to scan"
                )
            from pyspark.sql.types import StructType

            data = StructType([f for f in schema.fields if f.name not in pcols])
            scans.append(
                spark.read.schema(data).parquet(*ext).select(
                    *data.fieldNames(),
                    *[F.lit(None).cast(schema[c].dataType).alias(c) for c in pcols],
                )
            )
        return scans

    def _scan(
        self,
        spark: SparkSession,
        epoch: Epoch,
        files: list,
        columns: dict[str, list] | None = None,
        *,
        extra: dict[str, str] | None = None,
        keys: tuple[str, ...] = (),
        base_path: str | None = None,
    ) -> DataFrame:
        """The one file scan: the rows of ``files`` (records with
        ``path``, ``partition_values`` and ``dv``, as ``_ScanFile`` and
        ``ChangeFile`` carry them; a path may repeat) read under
        ``epoch``.

        - The epoch's schemaString pins the read schema, with physical
          names under column mapping, plus the ``extra`` columns
          (name → type) the files carry outside it.
        - ``columns`` (name → one value per record), an absolute-path
          file's partition values and a deletion vector's digest come
          from ONE lookup, built from Arrow and broadcast-joined on the
          decoded file path ``_fp``: O(records) rows, never data-sized,
          and each record of a repeated path gets the file's rows.
        - Rows a record's deletion vector deletes are anti-joined away
          on (``_fp``, ``_dv``, ``_ridx``): two records of one file with
          different vectors filter differently. ``_ridx`` is the parquet
          row index, the physical ordinal a vector addresses.
        - The result has the table's columns under logical names,
          ``extra``, ``keys`` (``_fp`` / ``_ridx``) and ``columns``.

        Without column mapping, deletion vectors, absolute paths,
        ``columns`` or ``keys`` it is the bare parquet scan, with no
        ``_metadata`` column and no join."""
        import pyarrow as pa
        from pyspark.sql.types import StructType

        _guard_collations(epoch.schema_string)
        extra = extra or {}
        columns = columns or {}
        mapping = _column_mapping(epoch.schema_string, epoch.configuration)
        schema = None
        if epoch.schema_string is not None:
            s = json.loads(mapping[0] if mapping else epoch.schema_string)
            s["fields"] += [
                {"name": n, "type": t, "nullable": True, "metadata": {}}
                for n, t in extra.items()
            ]
            schema = StructType.fromJson(s)
        pcols = self._physical_pcols(mapping, list(epoch.partition_columns))
        lookup = dict(columns)
        ext_pcols = pcols if any(os.path.isabs(f.path) for f in files) else []
        for i, c in enumerate(ext_pcols):
            lookup[f"__pv_{i}"] = pa.array(
                [f.partition_values.get(c) if os.path.isabs(f.path) else None for f in files],
                pa.string(),
            )
        fps = [os.path.abspath(os.path.join(self.path, f.path)) for f in files]
        digests = [json.dumps(f.dv, sort_keys=True) if f.dv else None for f in files]
        deleted = sorted({(fp, d) for fp, d in zip(fps, digests) if d})
        if deleted:
            lookup["_dv"] = pa.array(digests, pa.string())
        scans = self._read_files(
            spark, list(dict.fromkeys(f.path for f in files)), schema, pcols, base_path
        )
        df = None
        for scan in scans:
            # _metadata.file_path is a percent-encoded Hadoop URI
            # (file:/abs/path); decoded, it is the lookup key
            if lookup or "_fp" in keys:
                scan = scan.withColumn("_fp", _posix_path_col(F.col("_metadata.file_path")))
            if deleted or "_ridx" in keys:
                scan = scan.withColumn("_ridx", F.col("_metadata.row_index"))
            df = scan if df is None else df.unionByName(scan)
        if not (mapping or lookup or keys):
            return df
        if lookup:
            lookup["_fp"] = pa.array(fps, pa.string())
            df = df.join(F.broadcast(spark.createDataFrame(pa.table(lookup))), "_fp")
        for i, c in enumerate(ext_pcols):
            # the logged value, cast like a partition directory's; the
            # table's own files keep the directory's (their lookup is null)
            df = df.withColumn(
                c, F.coalesce(F.col(f"__pv_{i}").cast(schema[c].dataType), F.col(c))
            )
        if deleted:
            df = df.join(self._expand_dv_df(spark, deleted), ["_fp", "_dv", "_ridx"], "left_anti")
        if mapping:
            return df.select(
                *_mapping_select_exprs(epoch.schema_string, mapping), *extra, *keys, *columns
            )
        return df.drop(
            *[c for c in ("_fp", "_ridx", "_dv") if c not in keys],
            *[f"__pv_{i}" for i in range(len(ext_pcols))],
        )

    def _expand_dv_df(self, spark: SparkSession, entries: list[tuple[str, str]]) -> DataFrame:
        """The rows deletion vectors delete, as ``_fp, _dv, _ridx``;
        ``entries`` are (abs file path, descriptor digest: its sorted
        JSON, from which the vector resolves).

        Scale shape: descriptors are O(files-with-DVs) small dicts; the
        bitmap → row-index expansion runs ON EXECUTORS (mapInPandas over
        the descriptor list), so millions of deleted rows never touch
        the driver. The log records exact cardinalities, so the
        broadcast-vs-shuffle choice is made on real numbers, not a
        guess. Non-local FileSystem shims (in-memory test store) aren't
        executor-visible — those resolve on the driver, bounded by the
        test-scale DV size."""
        import pyarrow as pa

        from pulsar_io_delta_spark.sources.deletion_vectors import resolve_dv

        total_card = sum(int(json.loads(dj)["cardinality"]) for _, dj in entries)
        if type(self.fs) is LocalFileSystem:
            table_path, fs = self.path, self.fs
            desc_df = spark.createDataFrame(
                pa.table(
                    {
                        "_fp": pa.array([fp for fp, _ in entries], pa.string()),
                        "_dv": pa.array([dj for _, dj in entries], pa.string()),
                    }
                )
            )

            def expand(batches):
                import pandas as pd

                for pdf in batches:
                    for fp, dj in zip(pdf["_fp"], pdf["_dv"]):
                        idx = resolve_dv(json.loads(dj), table_path, fs)
                        yield pd.DataFrame(
                            {"_fp": fp, "_dv": dj, "_ridx": pd.Series(idx, dtype="int64")}
                        )

            deleted = desc_df.repartition(min(len(entries), 32)).mapInPandas(
                expand, "_fp string, _dv string, _ridx long"
            )
        else:
            rows = [
                {"_fp": fp, "_dv": dj, "_ridx": int(i)}
                for fp, dj in entries
                for i in resolve_dv(json.loads(dj), self.path, self.fs)
            ]
            deleted = spark.createDataFrame(
                pa.Table.from_pylist(
                    rows,
                    pa.schema([("_fp", pa.string()), ("_dv", pa.string()), ("_ridx", pa.int64())]),
                )
            )
        if total_card <= 4_000_000:  # ≈64 MB of (path-hash, long) — safe to ship
            deleted = F.broadcast(deleted)
        return deleted

    def _live_rows(
        self,
        spark: SparkSession,
        snap: Snapshot,
        paths: list[str],
        row_ids: bool | None = None,
        keys: tuple[str, ...] = (),
    ) -> DataFrame:
        """The rows of ``paths`` that ``snap`` shows — its deletion
        vectors applied, logical names — through ``_scan``.

        ``row_ids`` (default: when the table tracks rows, which is how
        a rewrite reads them) attaches each row's stable ``row_id`` /
        ``row_commit_version``: the file's materialized columns when
        present (rewritten files), else ``add.baseRowId`` + the parquet
        row index / ``add.defaultRowCommitVersion`` (Delta PROTOCOL.md
        "Row Tracking"). The per-file bases ride the scan's lookup, so
        nothing is counted or shuffled to derive ids, and ``_rewrite``
        carries them into the materialized columns so rewritten rows
        keep their identity. Such rows come in schema order."""
        adds = [snap.adds[p] for p in paths]
        files = [
            _ScanFile(p, a.get("partitionValues") or {}, _deleting_dv(a))
            for p, a in zip(paths, adds)
        ]
        if row_ids is None:
            row_ids = _rt_enabled(snap.configuration)
        if not row_ids:
            return self._scan(spark, snap.epoch, files, keys=keys)
        if self._mapping_of(snap):
            raise DeltaProtocolError(
                "row-id reads on column-mapped tables are not supported"
            )
        if not _rt_enabled(snap.configuration):
            raise DeltaProtocolError(
                "row tracking is not enabled on this table "
                "(delta.enableRowTracking)"
            )
        for p, a in zip(paths, adds):
            if a.get("baseRowId") is None:
                raise DeltaProtocolError(
                    f"row-tracked table has a file without baseRowId: {p}"
                )
        mat_id, mat_rcv = _rt_mat_cols(snap.configuration)
        df = self._scan(
            spark,
            snap.epoch,
            files,
            {
                "_base": [int(a["baseRowId"]) for a in adds],
                "_dcv": [int(a.get("defaultRowCommitVersion") or 0) for a in adds],
            },
            extra={mat_id: "long", mat_rcv: "long"},
            keys=tuple(dict.fromkeys(("_ridx", *keys))),
        )
        return df.select(
            *[f["name"] for f in json.loads(snap.schema_string)["fields"]],
            F.coalesce(F.col(mat_id), F.col("_base") + F.col("_ridx")).cast("long").alias("row_id"),
            F.coalesce(F.col(mat_rcv), F.col("_dcv")).cast("long").alias("row_commit_version"),
            *keys,
        )

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        timestamp_ms: int | None = None,
        filters: list[tuple[str, str, object]] | None = None,
    ) -> DataFrame:
        """Time-travel batch read (versionAsOf / timestampAsOf / latest).

        ``filters`` — (column, op, value) with op in {=, <, <=, >, >=} —
        prunes files via partition values + footer stats (data
        skipping), then re-applies the predicates exactly on the rows.
        At 100 TB this is the difference between scanning a table and
        scanning a date range. Filters on the SOURCE of a generated
        partition column (e.g. partition event_date = CAST(ts AS DATE),
        filter on ts) derive the implied partition predicate, exactly
        like delta-spark's generated-column partition pruning. A table
        without deletion vectors, column mapping or absolute-path files
        reads as one bare parquet scan.
        """
        snap = self.snapshot(version, timestamp_ms)
        files = self._select_files(snap, filters)
        if not files:
            if snap.schema_string is None:
                raise DeltaProtocolError("empty table with no schema")
            from pyspark.sql.types import StructType

            return spark.createDataFrame([], StructType.fromJson(json.loads(snap.schema_string)))
        return _where_filters(self._live_rows(spark, snap, files, row_ids=False), filters)

    def _select_files(
        self, snap: Snapshot, filters: list[tuple[str, str, object]] | None
    ) -> list[str]:
        """The snapshot's files that may hold rows matching ``filters``
        — the one file selection of every reader and rewriter. Filters
        on the source of a generated partition column add the implied
        partition predicate (``_generated_partition_filters``: only
        weakened, monotone implications, so a file holding a matching
        row is never dropped), logical names are mapped to physical,
        and partition values + footer stats prune. No filters: every
        live file, no pruning pass."""
        if not filters:
            return snap.files
        filters = list(filters) + _generated_partition_filters(snap, filters)
        return self.prune_files(snap, self._phys_filters(snap, filters))

    def read_with_row_ids(
        self,
        spark: SparkSession,
        version: int | None = None,
        timestamp_ms: int | None = None,
        filters: list[tuple[str, str, object]] | None = None,
    ) -> DataFrame:
        """:meth:`read` plus each row's stable ``row_id`` and
        ``row_commit_version`` — the identity an incremental training
        pipeline keys on (a row keeps its id across deletion-vector
        deletes, OPTIMIZE, and PURGE). Same pruning semantics as read."""
        snap = self.snapshot(version, timestamp_ms)
        files = self._select_files(snap, filters)
        if not files:
            raise DeltaProtocolError("row-id read of an empty file set")
        return _where_filters(self._live_rows(spark, snap, files, row_ids=True), filters)

    def enable_row_tracking(self, spark: SparkSession) -> int:
        """In-place row-tracking upgrade of an EXISTING table: one
        metadata commit that (a) upgrades the protocol
        (rowTracking + domainMetadata writer features), (b) arms
        ``delta.enableRowTracking`` and picks the materialized column
        names, and (c) re-adds every live file WITHOUT a baseRowId so
        :meth:`_commit`'s row-tracking path backfills ids from each
        file's footer-stats record count and seeds the high-water-mark
        domain — O(live files) metadata, zero data rewritten. Files
        missing stats get them read from the footer here (footer-only,
        no data pages). Idempotent: enabling twice is a no-op."""
        snap = self.snapshot()
        self._guard_writable(snap, data_change_removes=False)
        if _rt_enabled(snap.configuration):
            return snap.version
        if self._mapping_of(snap):
            raise DeltaProtocolError(
                "row tracking on column-mapped tables is not supported"
            )
        if snap.schema_string is None:
            raise DeltaProtocolError("cannot enable row tracking without a schema")
        config = {
            **snap.configuration,
            "delta.enableRowTracking": "true",
            "delta.rowTracking.materializedRowIdColumnName":
                f"_row_id_mat_{uuid.uuid4().hex[:8]}",
            "delta.rowTracking.materializedRowCommitVersionColumnName":
                f"_rcv_mat_{uuid.uuid4().hex[:8]}",
        }
        actions: list[dict] = [
            {"protocol": _upgraded_protocol(
                snap.protocol, (), ("rowTracking", "domainMetadata")
            )},
            _metadata(snap, configuration=config),
        ]
        for p in sorted(snap.files):
            add = dict(snap.adds[p])
            add.pop("baseRowId", None)
            add.pop("defaultRowCommitVersion", None)
            stats = add.get("stats")
            n = (json.loads(stats) if isinstance(stats, str) else stats or {}).get(
                "numRecords"
            )
            if n is None:
                add["stats"] = json.dumps(
                    self._stats_for(
                        os.path.join(self.path, p),
                        _stats_index_cols(snap.schema_string, config),
                    )
                )
            add["dataChange"] = False
            actions.append({"add": add})
        return self._commit(
            snap, actions, operation="UPGRADE ROW TRACKING",
            read_version=snap.version,
        )

    # ---------- change feed / CDC ----------

    def change_log(
        self,
        start_version: int = 0,
        end_version: int | None = None,
        change_feed: bool = False,
    ) -> ChangeLog:
        """The one walk of the log for change reads: commits
        ``[start_version, end_version]`` (inclusive; None → the head),
        one ``ChangeFile`` per data-changing file, in log order. Only
        the commit files inside the range are read.

        - ``dataChange=false`` adds and removes (OPTIMIZE rewrites move
          bytes, not data) are invisible.
        - An add is op 'c' at its ``modificationTime``, a remove op 'r'
          at its ``deletionTimestamp`` — each file's own event time
          (the reference's ``AddFile.getModificationTime()``).
        - ``change_feed``: a commit carrying ``cdc`` actions contributes
          only its ``_change_data`` files (op 'cdf'), which replace its
          derived rows; they take the commit's timestamp, in-commit
          timestamp first (the rule of ``commit_timestamp_ms``).
        - A ``metaData`` action that changes the partition columns,
          schema or configuration opens a new epoch; a commit's files
          belong to the epoch after its own ``metaData``.

        History behind an expired (checkpoint-collapsed) log tail
        raises — a CDC consumer cannot silently skip changes."""
        jsons = self.json_versions()
        earliest = jsons[0] if jsons else None
        expired_horizon = max(
            (c for c in self.checkpoint_versions() if earliest is None or c < earliest),
            default=None,
        )
        if expired_horizon is not None and start_version <= expired_horizon:
            raise DeltaProtocolError(
                f"change history ≤ v{expired_horizon} was expired; "
                f"earliest readable commit is v{earliest}"
            )
        files: list[ChangeFile] = []
        epochs: list[Epoch | None] = [None]
        for version in jsons:
            if version < start_version:
                continue
            if end_version is not None and version > end_version:
                break
            actions = self.actions(version)
            for a in actions:
                md = a.get("metaData")
                if md is None:
                    continue
                state = (
                    tuple(md.get("partitionColumns") or ()),
                    md.get("schemaString"),
                    dict(md.get("configuration") or {}),
                )
                if epochs[-1] is None or tuple(epochs[-1][1:]) != state:
                    epochs.append(Epoch(version, *state))
            epoch = len(epochs) - 1
            cdc = [a["cdc"] for a in actions if "cdc" in a] if change_feed else []
            if cdc:
                ts_ms = next(
                    (m for a in actions if (m := _info_ms(a.get("commitInfo"))) is not None),
                    None,
                )
                if ts_ms is None:
                    ts_ms = self.commit_timestamp_ms(version)
                files.extend(
                    ChangeFile(
                        c["path"], "cdf", version, ts_ms,
                        c.get("partitionValues") or {}, int(c.get("size") or 0),
                        None, epoch, c.get("stats"),
                    )
                    for c in cdc
                )
                continue
            for a in actions:
                if "add" in a:
                    f, op, ts_key = a["add"], OP_INSERT, "modificationTime"
                elif "remove" in a:
                    f, op, ts_key = a["remove"], OP_DELETE, "deletionTimestamp"
                else:
                    continue
                if not f.get("dataChange", True):
                    continue
                files.append(
                    ChangeFile(
                        f["path"], op, version, int(f.get(ts_key) or 0),
                        f.get("partitionValues") or {}, int(f.get("size") or 0),
                        _deleting_dv(f), epoch, f.get("stats"),
                    )
                )
        return ChangeLog(files, epochs)

    def cdc(
        self, spark: SparkSession, start_version: int = 0, end_version: int | None = None
    ) -> DataFrame:
        """Change-data rows of versions ``[start_version, end_version]``
        (the log head when ``end_version`` is None): op 'c' for rows of
        added files, 'r' for rows of removed (pre-vacuum) files, with the
        partition_value string, each file's own event time ``ts``, and
        the commit version (``change_log`` decides all three)."""
        out = self._scan_changes(spark, self.change_log(start_version, end_version))
        per_file = {"op", "_change_type", "_commit_version", "_ts_ms"}
        return out.select(
            "op",
            *[c for c in out.columns if c not in per_file],
            "_commit_version",
            F.timestamp_millis(F.col("_ts_ms")).alias("ts"),
        )

    def table_changes(
        self,
        spark: SparkSession,
        start_version: int = 0,
        end_version: int | None = None,
    ) -> DataFrame:
        """Change Data Feed read (Delta PROTOCOL.md "Change Data Feed"):
        table columns + ``_change_type`` / ``_commit_version`` /
        ``_commit_timestamp``.

        Commits carrying cdc actions contribute ONLY their
        ``_change_data`` files — the exact rows the writer recorded,
        including MERGE update_preimage/update_postimage pairs that no
        add/remove derivation can reconstruct. Data-changing commits
        without cdc actions derive insert/delete rows from their
        add/remove actions (the spec's reader-side derivation).
        ``_commit_timestamp`` is the commit clock
        (``commit_timestamp_ms``, in-commit timestamp first), never a
        file's event time."""
        log = self.change_log(start_version, end_version, change_feed=True)
        out = self._scan_changes(spark, log, commit_clock=True)
        per_file = {"op", "partition_value", "_commit_version", "_ts_ms", "_commit_timestamp"}
        return out.select(
            "_commit_version",
            *[c for c in out.columns if c not in per_file],
            F.timestamp_millis(F.col("_commit_timestamp")).alias("_commit_timestamp"),
        )

    def _scan_changes(
        self, spark: SparkSession, log: ChangeLog, commit_clock: bool = False
    ) -> DataFrame:
        """The rows of a change log's files: data columns plus
        ``_change_type`` and ``partition_value``, and from each file's
        record ``op``, ``_commit_version``, the event time ``_ts_ms``
        and, with ``commit_clock``, the commit's ``_commit_timestamp``
        (ms, ``commit_timestamp_ms``). A derived file's ``_change_type``
        is insert (op 'c') or delete (op 'r'); a ``_change_data`` file
        (op 'cdf') carries its own column.

        One ``_scan`` per schema epoch, plus one for the epoch's
        ``_change_data`` files, whose hive root is their own directory:
        a 10^5-commit backfill plans a handful of scans, not 10^5 union
        branches, and no change row touches the driver. A file with
        several records (added, then removed, or re-added with a new
        deletion vector) is scanned once and its rows fan out per
        record through the lookup. Each scan is pinned to its epoch's
        schemaString: a metaData action that evolves the schema but
        keeps the partition columns must NOT share a scan with old
        files, or the evolved column would be dropped or null-filled."""
        from pulsar_io_delta_spark.operators.cdc import partition_value_expr

        if not log.files:
            raise DeltaProtocolError("no data-changing commits in the range")
        epochs = list(log.epochs)
        if log.files[0].epoch == 0:
            # the state entering the range: read only when a file needs it
            epochs[0] = self.snapshot(log.files[0].version).epoch
        clock = (
            {v: self.commit_timestamp_ms(v) for v in sorted({f.version for f in log.files})}
            if commit_clock
            else {}
        )
        groups: dict[tuple[int, bool], list[ChangeFile]] = {}
        for f in log.files:
            groups.setdefault((f.epoch, f.op == "cdf"), []).append(f)
        frames: list[DataFrame] = []
        for (epoch_id, cdf), files in groups.items():
            e = epochs[epoch_id]
            columns = {
                "op": [f.op for f in files],
                "_commit_version": [f.version for f in files],
                "_ts_ms": [f.ts_ms for f in files],
            }
            if not cdf:
                columns["_change_type"] = [
                    "insert" if f.op == OP_INSERT else "delete" for f in files
                ]
            if clock:
                columns["_commit_timestamp"] = [clock[f.version] for f in files]
            df = self._scan(
                spark,
                e,
                files,
                columns,
                extra={"_change_type": "string"} if cdf else None,
                base_path=os.path.join(self.path, "_change_data") if cdf else None,
            )
            # metaData.partitionColumns stay LOGICAL under mapping, so
            # the scan's renamed columns carry them
            pv = (
                partition_value_expr({c: F.col(c) for c in e.partition_columns})
                if e.partition_columns
                else F.lit("")
            )
            frames.append(df.withColumn("partition_value", pv))
        out = frames[0]
        for f in frames[1:]:
            # schema may evolve between epochs (op='m' boundary): align
            # by name, null-filling columns absent on either side
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def schema_changes(self, start_version: int = 0) -> list[tuple[int, str]]:
        """(version, schemaString) for each metaData action from
        ``start_version`` on that changes the table's partition columns,
        schema or configuration — the op='m' boundary events (reference
        emits these inline; Spark restarts the stream on schema change,
        so we surface them out-of-band)."""
        return [
            (e.version, e.schema_string)
            for e in self.change_log(start_version).epochs[1:]
            if e.schema_string
        ]

    # ---------- writing ----------

    def _commit(
        self,
        snap: Snapshot | None,
        actions: list[dict],
        operation: str,
        read_version: int | None = None,
        max_retries: int = 10,
    ) -> int:
        """Publish one commit with optimistic concurrency. ``snap`` is the
        table state ``actions`` were built against (None when creating
        the table).

        Exclusive create is the mutex (O_EXCL locally; conditional PUT /
        external mutex on object stores — sources/fs.py). Losing the
        race is handled by operation class:

        - blind appends (``read_version is None``) re-read the log and
          retry at the next version — always safe, no conflict
          possible. ``max_retries`` bounds consecutive attempts WITHOUT
          log progress (livelock/stall), not total lost races: every
          lost race means a racer's commit landed, so contention at any
          committer width converges without tuning;
        - snapshot-dependent commits (overwrite, schema or metadata
          changes, and every file rewrite through ``_rewrite``: DELETE,
          UPDATE, MERGE, OPTIMIZE, REORG) pass the version their action
          list was computed against and raise ``DeltaConcurrentCommit``
          so the caller recomputes against the new table state instead
          of publishing stale removes.

        The table configuration before (``snap``) or after (a
        ``metaData`` among the actions) this commit arms in-commit
        timestamps: with ``delta.enableInCommitTimestamps`` true the
        commitInfo carries a MONOTONIC ``inCommitTimestamp`` — strictly
        greater than the predecessor commit's — which time travel then
        trusts over file mtimes (Delta PROTOCOL.md "In-Commit
        Timestamps": the defense against clock-skewed object stores
        reordering history). The
        timestamp is re-derived on every retry so a racer's commit
        cannot break monotonicity."""
        ict = "delta.enableInCommitTimestamps"
        prior_ict = snap is not None and snap.configuration.get(ict) == "true"
        cfg = _committed_metadata(snap, actions).get("configuration") or {}
        ict_armed = prior_ict or cfg.get(ict) == "true"
        # Row tracking (Delta PROTOCOL.md "Row Tracking"): when armed,
        # every data add gets baseRowId (fresh ids = hwm+1 .. hwm+n,
        # n from the add's own footer stats — zero extra jobs) and
        # defaultRowCommitVersion (the version this commit lands at),
        # and the delta.rowTracking domain's rowIdHighWaterMark
        # advances. Stamped INSIDE the retry loop: a blind append that
        # loses its race re-derives both against the racer's state, so
        # row-id ranges never collide.
        rt_adds = (
            [a["add"] for a in actions if "add" in a and "baseRowId" not in a["add"]]
            if _rt_enabled(cfg)
            else []
        )
        rt_dm: dict | None = None
        if rt_adds:
            for a in actions:
                dm = a.get("domainMetadata")
                if dm and dm.get("domain") == "delta.rowTracking":
                    rt_dm = dm
            if rt_dm is None:
                rt_dm = {"domain": "delta.rowTracking", "configuration": "{}",
                         "removed": False}
                actions = actions + [{"domainMetadata": rt_dm}]
        def _rt_unstamp() -> None:
            # a DeltaConcurrentCommit bubbles to the caller, who retries
            # with a FRESH _commit call — strip our stamps so that call
            # re-derives ids against the racer's high-water mark
            for add in rt_adds:
                add.pop("baseRowId", None)
                add.pop("defaultRowCommitVersion", None)

        self.fs.makedirs(self.log_dir)
        # Adaptive retry budget (VERDICT r10 #8): a lost CAS race means
        # a RACER's commit landed — the system made progress and our
        # next attempt targets a fresh version, so contention alone
        # must never exhaust the budget (the fixed count capped blind
        # appends at ~8 concurrent committers). ``max_retries`` now
        # bounds consecutive attempts WITHOUT version advancement —
        # a wedged filesystem or a stale orphan commit file — which is
        # the actual livelock signal. Jittered exponential backoff
        # after each loss keeps N committers from re-colliding in
        # lockstep (full jitter, capped at 100 ms: contention windows
        # are one create_exclusive wide, not seconds).
        stalled = 0
        losses = 0
        last_seen = -2
        while True:
            now_ms = int(time.time() * 1000)
            info: dict = {"timestamp": now_ms, "operation": operation}
            metrics = _operation_metrics(actions)
            if metrics:
                info["operationMetrics"] = metrics
            if ict_armed:
                info["inCommitTimestamp"] = max(now_ms, self._last_ict() + 1)
            listed = self.versions()
            version = listed[-1] + 1 if listed else 0
            if version > last_seen:
                last_seen = version
                stalled = 0
            else:
                stalled += 1
                if stalled >= max_retries:
                    raise DeltaProtocolError(
                        f"commit stalled: {operation} saw no log progress "
                        f"over {max_retries} consecutive attempts at "
                        f"v{version} (wedged filesystem or orphan commit "
                        "file?)"
                    )
            if ict_armed and version > 0 and not prior_ict:
                # This commit ENABLES ICT on a table whose history
                # predates it: stamp the spec's enablement provenance
                # properties (PROTOCOL.md "In-Commit Timestamps") into
                # the enabling metaData action so readers know which
                # versions carry ICT without probing every commit.
                # Re-stamped per retry — a lost race lands at a new
                # version with a new timestamp.
                cfg["delta.inCommitTimestampEnablementVersion"] = str(version)
                cfg["delta.inCommitTimestampEnablementTimestamp"] = str(
                    info["inCommitTimestamp"]
                )
            if read_version is not None and version != read_version + 1:
                _rt_unstamp()
                raise DeltaConcurrentCommit(
                    f"table advanced to v{version - 1} after {operation} read "
                    f"v{read_version}; recompute and retry"
                )
            if rt_adds:
                # the caller's snapshot is the head unless a racer landed
                hwm = _rt_hwm(
                    snap if snap is not None and snap.version == version - 1
                    else self.snapshot() if version > 0 else None
                )
                for add in rt_adds:
                    stats = add.get("stats")
                    n = (json.loads(stats) if isinstance(stats, str) else stats or {}).get("numRecords")
                    if n is None:
                        raise DeltaProtocolError(
                            "row tracking requires numRecords stats on every add"
                        )
                    add["baseRowId"] = hwm + 1
                    add["defaultRowCommitVersion"] = version
                    hwm += int(n)
                rt_dm["configuration"] = json.dumps({"rowIdHighWaterMark": hwm})
            body = "".join(
                json.dumps(a) + "\n" for a in [{"commitInfo": info}] + actions
            )
            fp = os.path.join(self.log_dir, f"{version:020d}.json")
            try:
                self.fs.create_exclusive(fp, body)
                try:
                    self._write_checksum(version, actions, snap)
                except OSError:
                    # the commit is already durable; the checksum is a
                    # best-effort integrity sidecar (delta-spark
                    # semantics) — a missing .crc only skips validation
                    pass
                interval = int(cfg.get("delta.checkpointInterval") or 0)
                if interval > 0 and version > 0 and version % interval == 0:
                    # delta.checkpointInterval (round 9): periodic
                    # checkpointing is what keeps replay O(tail) on a
                    # long-lived table; post-commit and best-effort,
                    # exactly like delta-spark — a failed checkpoint
                    # never fails the already-durable commit
                    try:
                        self.checkpoint(version)
                    except (OSError, DeltaProtocolError):
                        pass
                return version
            except FileExistsError:
                if read_version is not None:
                    _rt_unstamp()
                    raise DeltaConcurrentCommit(
                        f"lost commit race at v{version} for {operation}; "
                        "recompute against the current snapshot"
                    )
                # append: next loop re-reads and bumps the version;
                # full-jitter backoff de-synchronizes the herd
                losses += 1
                time.sleep(random.uniform(0, min(0.001 * 2 ** min(losses, 7), 0.1)))
                continue

    # ---------- version checksums (<version>.crc) ----------

    def _read_checksum(self, version: int) -> dict | None:
        fp = os.path.join(self.log_dir, f"{version:020d}.crc")
        if not self.fs.exists(fp):
            return None
        try:
            return json.loads(self.fs.read_text(fp))
        except (ValueError, OSError):
            return None  # unreadable sidecar: validation just skips

    def _write_checksum(self, version: int, actions: list[dict], snap: Snapshot | None) -> None:
        """Version-checksum sidecar (delta-spark's ``<version>.crc``):
        the table's live-file count and byte total as of this commit,
        written by the committer and VALIDATED against every snapshot
        replay — the tripwire that turns a replay/compaction/checkpoint
        bug into a loud error instead of silently wrong query results.

        The account comes from one columnar totals pass over the
        post-commit snapshot (arrow sum on the checkpoint base + the
        O(churn) tail overlay): ``snap``, the state the commit was built
        on, advanced by replay's own fold over ``actions``, or a fresh
        replay when a racer's commit landed in between. An
        adds-minus-removes increment would be cheaper but WRONG for
        re-add commits: a row-tracking backfill or DV update re-adds an
        already-live path without a paired remove, which double-counts.
        Tables whose file actions lack
        sizes (handwritten fixture logs) skip the sidecar — validation
        is opt-in by construction."""
        if any(a["add"].get("size") is None for a in actions if "add" in a):
            return
        post = (snap.advanced(version, actions) if snap is not None and snap.version == version - 1
                else self.snapshot(version))
        totals = post.adds.file_stats_totals()
        if totals is None:
            return
        nf, tb = totals
        crc = {"tableSizeBytes": tb, "numFiles": nf,
               "numMetadata": 1, "numProtocol": 1}
        prior = self._read_checksum(version - 1) if version > 0 else None
        meta = next((a["metaData"] for a in actions if "metaData" in a), None)
        proto = next((a["protocol"] for a in actions if "protocol" in a), None)
        if meta is None and prior:
            meta = prior.get("metadata")
        if proto is None and prior:
            proto = prior.get("protocol")
        if meta:
            crc["metadata"] = meta
        if proto:
            crc["protocol"] = proto
        self.fs.write_text(
            os.path.join(self.log_dir, f"{version:020d}.crc"), json.dumps(crc)
        )

    def _validate_checksum(self, snap: Snapshot) -> None:
        """Loud integrity gate: when the committer left a .crc for this
        version, the replayed state must reproduce its file count and
        byte total exactly."""
        crc = self._read_checksum(snap.version)
        if crc is None:
            return
        totals = snap.adds.file_stats_totals()
        if totals is None:
            return
        nf, tb = totals
        if nf != int(crc["numFiles"]) or tb != int(crc["tableSizeBytes"]):
            raise DeltaProtocolError(
                f"version checksum mismatch at v{snap.version}: replay has "
                f"{nf} files / {tb} bytes, {snap.version:020d}.crc records "
                f"{crc['numFiles']} files / {crc['tableSizeBytes']} bytes — "
                "the log, a checkpoint, or a compaction is corrupt"
            )

    def _stats_for(self, path: str, indexed: "frozenset | None" = None) -> dict:
        with self.fs.open_read(path) as f:
            return _file_stats(f, indexed)

    @staticmethod
    def _mapping_of(snap: Snapshot):
        return _column_mapping(snap.schema_string, snap.configuration)

    @staticmethod
    def _advance_identity_watermarks(
        snap: Snapshot, actions: list[dict], idents: dict[str, dict]
    ) -> None:
        """Advance each identity column's delta.identity.highWaterMark
        past the extreme value this commit's staged files contain — read
        from the add actions' footer STATS (zero extra Spark jobs) — and
        carry it in the commit's metaData action (reusing an existing
        one, e.g. from schema evolution, or appending one)."""
        schema_string = _committed_metadata(snap, actions).get("schemaString")
        if not schema_string:
            return
        adds_stats = [
            json.loads(a["add"]["stats"])
            for a in actions
            if "add" in a and a["add"].get("stats")
        ]
        s = json.loads(schema_string)
        changed = False
        for f in s["fields"]:
            spec = idents.get(f["name"])
            if not spec:
                continue
            key = "maxValues" if spec["step"] > 0 else "minValues"
            vals = [
                int(st[key][f["name"]])
                for st in adds_stats
                if f["name"] in st.get(key, {})
            ]
            if not vals:
                continue
            extreme = max(vals) if spec["step"] > 0 else min(vals)
            cur = spec["hw"]
            if (
                cur is None
                or (spec["step"] > 0 and extreme > cur)
                or (spec["step"] < 0 and extreme < cur)
            ):
                meta = dict(f.get("metadata") or {})
                meta["delta.identity.highWaterMark"] = int(extreme)
                f["metadata"] = meta
                changed = True
        if not changed:
            return
        for a in actions:
            if "metaData" in a:
                a["metaData"]["schemaString"] = json.dumps(s)
                return
        actions.append(_metadata(snap, schema_string=json.dumps(s)))

    @staticmethod
    def _apply_generated(df: DataFrame, generated: dict[str, str]) -> DataFrame:
        """Generated-column write semantics: columns MISSING from the
        incoming frame are computed from their generation expression;
        columns the caller DID provide are validated against it (one
        limit(1) probe each — a mismatch means the invariant every
        downstream reader relies on would silently break)."""
        for c, expr in generated.items():
            if c not in df.columns:
                df = df.withColumn(c, F.expr(expr))
            else:
                bad = df.where(f"NOT ({c} <=> ({expr}))").limit(1).count()
                if bad:
                    raise DeltaConstraintViolation(
                        f"generated column {c!r} does not match its "
                        f"generation expression ({expr}) on incoming rows"
                    )
        return df

    @classmethod
    def _fill_append(cls, df: DataFrame, rules: _Rules, schema_string: str) -> DataFrame:
        """Fill the columns an appended frame omits. Generated columns
        are computed (``_apply_generated``). Default columns (Delta
        PROTOCOL.md "Default columns") take their CURRENT_DEFAULT at
        write time, with no backfill of existing rows. Identity columns
        take unique values on the start+k*step lattice, assigned
        distributedly: gaps are legal, and the watermark advances from
        the staged files' footer stats."""
        df = cls._apply_generated(df, rules.generated)
        fills = {}
        if any(c not in df.columns for c in rules.defaults):
            from pyspark.sql.types import StructType

            types = StructType.fromJson(json.loads(schema_string))
            fills = {
                c: F.expr(sql).cast(types[c].dataType)
                for c, sql in rules.defaults.items()
                if c not in df.columns
            }
        for c, spec in rules.identity.items():
            if c not in df.columns:
                base = spec["start"] - spec["step"] if spec["hw"] is None else spec["hw"]
                fills[c] = (
                    F.lit(base) + F.lit(spec["step"]) * (F.monotonically_increasing_id() + 1)
                ).cast("long")
        return df.withColumns(fills) if fills else df

    @staticmethod
    def _cdf_protocol_actions(protocol: dict) -> list[dict]:
        """Protocol action list for a cdc-writing commit: upgrade
        ``protocol`` to the table-features form with changeDataFeed on
        first use (feature-merging, never dropping — same rule as the
        DV upgrade); empty when it already advertises it."""
        if "changeDataFeed" in (protocol.get("writerFeatures") or ()):
            return []
        return [{"protocol": _upgraded_protocol(protocol, (), ("changeDataFeed",))}]

    @staticmethod
    def _to_physical(df: DataFrame, physical: dict) -> DataFrame:
        """Rename logical → physical columns for staging into a
        column-mapped table (``physical`` from ``_physical_names``;
        columns it does not name pass through, and the physical
        schemaString null-fills absent ones on read)."""
        cols = []
        for c in df.columns:
            p, fid = physical.get(c, (c, None))
            if fid is not None:
                # id-mode staging: stamp parquet field ids so an
                # id-matching reader resolves our files regardless of
                # column names (JVM parquet writes the ids from column
                # metadata under fieldId.write.enabled, default on —
                # distributed, no driver-side pyarrow detour)
                cols.append(F.col(c).alias(p, metadata={"parquet.field.id": fid}))
            else:
                cols.append(F.col(c).alias(p))
        return df.select(cols)

    @staticmethod
    def _physical_pcols(mapping, pcols: list[str]) -> list[str]:
        if not mapping:
            return pcols
        to_phys = {logical: phys for phys, logical in mapping[1]}
        return [to_phys.get(c, c) for c in pcols]

    def _phys_filters(
        self, snap: Snapshot, filters: list[tuple[str, str, object]] | None
    ) -> list[tuple[str, str, object]] | None:
        """Rename logical filter columns to physical for data skipping:
        add-action ``partitionValues`` and parquet-footer stats of a
        column-mapped table are keyed by PHYSICAL names."""
        if not filters:
            return filters
        phys = _physical_names(snap.schema_string, snap.configuration)
        return [(phys.get(c, (c, None))[0], op, v) for c, op, v in filters]

    def _stage_and_move(
        self,
        df: DataFrame,
        partition_by: list[str],
        stats_cols: "frozenset | None",
        physical: dict | None = None,
        cdc: bool = False,
    ) -> list[dict]:
        """Write df as parquet into the table dir; return add actions.
        ``stats_cols`` is the footer-stats allowlist of the table state
        the caller commits against (``_stats_index_cols``; None = all).
        ``physical`` (from ``_physical_names``) stages under PHYSICAL
        column names — data files and hive partition dirs of a mapped
        table must never contain logical names. ``cdc=True`` stages CHANGE
        DATA files instead (Delta PROTOCOL.md "Add CDC File"): they land
        under ``_change_data/``, the action key is ``cdc`` with
        ``dataChange=false`` (change files never count as table data),
        and the ``_change_type`` column passes through un-renamed."""
        if any(p != c or fid is not None for c, (p, fid) in (physical or {}).items()):
            df = self._to_physical(df, physical)
            partition_by = [physical.get(c, (c, None))[0] for c in partition_by]
        staging = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        prefix = "_change_data" if cdc else ""
        adds: list[dict] = []
        for src in self.fs.walk_files(staging):
            name = os.path.basename(src)
            if not name.endswith(".parquet"):
                continue
            rel_dir = os.path.relpath(os.path.dirname(src), staging)
            pvals: dict[str, str | None] = {}
            if rel_dir != ".":
                for piece in rel_dir.split(os.sep):
                    k, _, val = piece.partition("=")
                    pvals[k] = hive_value(val)
            final_rel = os.path.join(
                prefix,
                "" if rel_dir == "." else rel_dir,
                f"{'cdc' if cdc else 'part'}-{uuid.uuid4().hex}.parquet",
            )
            dst = os.path.join(self.path, final_rel)
            self.fs.move(src, dst)
            if cdc:
                adds.append(
                    {
                        "cdc": {
                            "path": final_rel,
                            "partitionValues": pvals,
                            "size": self.fs.size(dst),
                            "dataChange": False,
                        }
                    }
                )
            else:
                add = {
                    "path": final_rel,
                    "partitionValues": pvals,
                    "size": self.fs.size(dst),
                    "modificationTime": self.fs.mtime_ms(dst),
                    "dataChange": True,
                }
                try:
                    add["stats"] = json.dumps(self._stats_for(dst, stats_cols))
                except OSError:
                    # footer logical types this pyarrow can't parse
                    # (e.g. VARIANT): stats are an optimization — every
                    # consumer (pruning, identity watermark) treats a
                    # missing stats key conservatively
                    pass
                adds.append({"add": add})
        self.fs.rmtree(staging)
        return adds

    @staticmethod
    def _merge_schema_strings(old: str | None, new: str) -> str | None:
        """Additive evolution: old fields in order + genuinely new fields
        appended. Returns the merged schemaString, or None when nothing
        changed. Type changes on an existing column are rejected — that
        is a rewrite, not an evolution."""
        if old is None:
            return new
        old_s, new_s = json.loads(old), json.loads(new)
        old_by_name = {f["name"]: f for f in old_s["fields"]}
        added = []
        for f in new_s["fields"]:
            prev = old_by_name.get(f["name"])
            if prev is None:
                # rows written before the evolution read the new column
                # as null, so it is logged nullable whatever the
                # appended frame declared (Delta does the same)
                added.append({**f, "nullable": True})
            elif prev["type"] != f["type"]:
                raise DeltaProtocolError(
                    f"schema evolution cannot change column {f['name']!r} "
                    f"from {prev['type']} to {f['type']}"
                )
        if not added:
            return None
        old_s["fields"] = old_s["fields"] + added
        return json.dumps(old_s)

    @staticmethod
    def _plan_append(
        snap: Snapshot | None, schema_json: str, partition_by: list[str] | None
    ) -> _AppendPlan:
        """Plan an append of rows with schema ``schema_json`` against
        ``snap`` (None creates the table), without a Spark job.
        ``partition_by`` None keeps the table's partitioning; another
        list must equal it. New columns extend the schema in a metaData
        action (named and numbered on a mapped table). The plan holds
        the physical names of the input columns and of the columns the
        table fills, the stats allowlist and the rules rows must meet."""
        inputs = [f["name"] for f in json.loads(schema_json)["fields"]]
        if snap is None:
            pcols = list(partition_by or [])
            schema, config, rules = schema_json, {}, _Rules.of(schema_json, None)
            actions = (
                _variant_upgrade({}, schema_json)
                or [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}]
            ) + [_metadata(None, schema_string=schema_json, partition_columns=pcols)]
        else:
            DeltaTable._guard_writable(snap, data_change_removes=False)
            pcols = list(snap.partition_columns)
            if partition_by is not None and list(partition_by) != pcols:
                raise DeltaProtocolError(
                    f"partition_by {partition_by} conflicts with the "
                    f"table's partitioning {pcols}"
                )
            rules = _Rules.of(snap.schema_string, snap.configuration)
            mapped = DeltaTable._mapping_of(snap)
            if rules.identity and mapped:
                raise DeltaProtocolError(
                    "identity columns on column-mapped tables are not supported"
                )
            for c, spec in rules.identity.items():
                if c in inputs and not spec["allow"]:
                    raise DeltaProtocolError(
                        f"identity column {c!r} is GENERATED ALWAYS; "
                        "explicit values are not allowed"
                    )
            schema, config, actions = snap.schema_string, snap.configuration, []
            # additive evolution: the metaData action is the op='m'
            # boundary downstream CDC consumers restart at
            merged = DeltaTable._merge_schema_strings(schema, schema_json)
            if merged is not None:
                if mapped:
                    merged, config = _assign_mapping_metadata(merged, config)
                actions = [_metadata(snap, schema_string=merged, configuration=config)]
                actions += _variant_upgrade(snap.protocol, merged)
                schema = merged
        filled = [
            c for c in (*rules.generated, *rules.defaults, *rules.identity) if c not in inputs
        ]
        return _AppendPlan(
            version=-1 if snap is None else snap.version,
            actions=actions,
            partition_columns=pcols,
            physical=_physical_names(schema, config, inputs + filled),
            stats_cols=_stats_index_cols(schema, config),
            rules=rules,
            schema_json=schema_json,
            partition_by=partition_by,
        )

    def _commit_append(
        self,
        plan: _AppendPlan,
        adds: list[dict],
        txn: tuple[str, int] | None,
        operation: str,
        *,
        snap: Snapshot | None = None,
        rows: DataFrame | None = None,
        removes: list[dict] = (),
        pinned: bool = False,
    ) -> int:
        """The one append commit: ``adds`` (files staged under
        ``plan``) and ``rows`` (a frame, staged here by the plan) land
        with the plan's actions and ``removes``; ``snap`` is the
        plan's snapshot when the caller holds it. An already delivered
        ``txn=(app_id, version)`` returns -1 before anything is staged.
        The rows are checked against the plan's rules first. The commit
        is pinned to the plan's version: after a lost race it plans
        again against the head and commits there while the staged
        files still fit (``stages_like``), else it raises
        DeltaConcurrentCommit, as a ``pinned`` commit does at once."""

        def delivered(s: Snapshot | None) -> bool:
            return txn is not None and s is not None and s.txns.get(txn[0], -1) >= txn[1]

        def replan(head: Snapshot) -> _AppendPlan:
            new = self._plan_append(head, plan.schema_json, plan.partition_by)
            if not plan.stages_like(new):
                raise DeltaConcurrentCommit(
                    f"{operation}: v{head.version} changed what the files "
                    f"staged at v{plan.version} were staged by; stage again"
                )
            return new

        if snap is None and not pinned and self.exists() and self.versions():
            # planned elsewhere (a sink's writer): the table may have moved
            snap = self.snapshot()
        if delivered(snap):
            return -1
        if snap is not None and snap.version != plan.version:
            plan = replan(snap)
        files = [{"add": a} for a in adds]
        if rows is not None:
            self._validate_constraints(rows, plan.rules)
            files += self._stage_and_move(
                rows, plan.partition_columns, plan.stats_cols, plan.physical
            )
        else:
            self._validate_staged(plan, adds)
        marker = [] if txn is None else [{"txn": {
            "appId": txn[0], "version": txn[1], "lastUpdated": int(time.time() * 1000),
        }}]
        while True:
            actions = marker + plan.actions + list(removes) + files
            if plan.rules.identity:
                self._advance_identity_watermarks(snap, actions, plan.rules.identity)
            try:
                return self._commit(snap, actions, operation, read_version=plan.version)
            except DeltaConcurrentCommit:
                head = self.snapshot()
                if delivered(head):
                    return -1  # a racer delivered this exact batch
                if pinned:
                    raise
                if head.version <= plan.version:
                    raise DeltaProtocolError(
                        f"commit stalled: {operation} lost v{plan.version + 1}, "
                        "which the log does not list (wedged filesystem or "
                        "orphan commit file?)"
                    )
                snap, plan = head, replan(head)

    def _validate_staged(self, plan: _AppendPlan, adds: list[dict]) -> None:
        """``_validate_constraints`` for files staged elsewhere, whose
        committer (a sink's commit worker) has no Spark session: the
        plan's probes, generated columns included, run in DuckDB over
        the files and their partition values. DuckDB shares Spark's SQL
        for the comparisons, arithmetic and string functions of typical
        rules; a rule it cannot evaluate refuses the commit."""
        if not adds or not plan.rules.probes(plan.physical, str, generated=True):
            return
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type
        from pyspark.sql.types import StructType

        logical = {p: c for c, (p, _fid) in plan.physical.items()}
        inputs = StructType.fromJson(json.loads(plan.schema_json))
        parts = []
        for a in adds:
            with self.fs.open_read(os.path.join(self.path, a["path"])) as f:
                t = pq.read_table(f)
            t = t.rename_columns([logical.get(n, n) for n in t.column_names])
            for c in plan.partition_columns:
                typ = to_arrow_type(inputs[c].dataType) if c in inputs.names else pa.string()
                if pa.types.is_timestamp(typ):
                    typ = pa.timestamp(typ.unit)  # partition values carry no zone
                v = a["partitionValues"].get(plan.physical.get(c, (c, None))[0])
                t = t.append_column(c, pa.array([v] * t.num_rows, pa.string()).cast(typ))
            parts.append(t)
        staged = pa.concat_tables(parts, promote_options="default")
        quote = lambda c: '"{}"'.format(c.replace('"', '""'))  # noqa: E731
        with duckdb.connect() as con:
            rows = con.from_arrow(staged)
            for what, violation in plan.rules.probes(staged.column_names, quote, generated=True):
                try:
                    bad = rows.filter(violation).limit(1).fetchone()
                except duckdb.Error as e:
                    raise DeltaProtocolError(f"{what} cannot be checked without Spark: {e}") from e
                if bad:
                    raise DeltaConstraintViolation(f"{what} violated by incoming rows")

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        configuration: dict | None = None,
        cluster_by: list[str] | None = None,
        overwrite_schema: bool = False,
    ) -> int:
        """Append/overwrite commit. ``txn=(app_id, txn_version)`` makes
        the commit idempotent (streaming sink exactly-once).
        ``configuration`` sets table properties (e.g.
        ``delta.enableChangeDataFeed``) on the CREATING write only —
        altering properties of an existing table is a separate metaData
        commit, not a side effect of a data write. ``cluster_by``
        (creating write only, round 9) declares liquid-clustering
        columns: the clusteredTable feature is armed and the column
        list recorded in the delta.clustering metadata domain —
        optimize_clustered() then rewrites in Hilbert order over them
        (the spec makes maintaining the layout best-effort, so plain
        appends remain legal). ``overwrite_schema`` (round 9,
        delta-spark's overwriteSchema): with ``mode='overwrite'``,
        REPLACE the table schema and partitioning from this frame /
        ``partition_by`` instead of inheriting — the only way to change
        a table's partition layout."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported mode: {mode}")
        first = not (self.exists() and self.versions())
        if cluster_by:
            if partition_by:
                raise DeltaProtocolError(
                    "clustered tables are unpartitioned (spec): "
                    "cluster_by and partition_by are mutually exclusive"
                )
            if not first:
                raise DeltaProtocolError(
                    "cluster_by is set on the CREATING write; altering "
                    "clustering columns of an existing table is a "
                    "separate metadata commit"
                )
            missing = [c for c in cluster_by if c not in df.columns]
            if missing:
                raise DeltaProtocolError(
                    f"clustering columns not in schema: {missing}"
                )
        schema_json = df.schema.json()
        prior = None if first else self.snapshot()
        removes: list[dict] = []
        if mode == "overwrite" and not first:
            # removes, validation and metadata all come from the one
            # state this write read: a racer's commit (say, a new CHECK
            # constraint) raises instead of being silently overwritten
            self._guard_writable(prior)
            now_ms = int(time.time() * 1000)
            removes = [self._remove_action(prior, p, now_ms) for p in prior.files]
        if first:
            if _rt_enabled(configuration):
                # choose the materialized row-id/commit-version PHYSICAL
                # column names once at enable time (spec: stored in table
                # config; rewrites carry row identity through them)
                configuration = {
                    **configuration,
                    "delta.rowTracking.materializedRowIdColumnName":
                        f"_row_id_mat_{uuid.uuid4().hex[:8]}",
                    "delta.rowTracking.materializedRowCommitVersionColumnName":
                        f"_rcv_mat_{uuid.uuid4().hex[:8]}",
                }
            need_writer: tuple[str, ...] = ()
            if _rt_enabled(configuration):
                # writer-only features: row-tracked files stay readable
                # by any reader (spec) — but every writer must maintain
                # baseRowId + the hwm domain
                need_writer += ("rowTracking", "domainMetadata")
            if cluster_by:
                need_writer += ("clusteredTable", "domainMetadata")
            if (configuration or {}).get("delta.enableInCommitTimestamps") == "true":
                # ICT from creation: the writer feature must ride the
                # same commit (spec); no enablement provenance needed —
                # absent properties mean "enabled since version 0"
                need_writer += ("inCommitTimestamp",)
            plan = self._plan_append(None, schema_json, partition_by)
            protocol = plan.actions[0]["protocol"]
            actions = [
                {"protocol": _upgraded_protocol(protocol, (), need_writer) if need_writer else protocol},
                _metadata(
                    None, schema_string=schema_json,
                    partition_columns=plan.partition_columns, configuration=configuration,
                ),
            ]
            if cluster_by:
                actions.append({"domainMetadata": {
                    "domain": "delta.clustering",
                    "configuration": json.dumps(
                        {"clusteringColumns": [[c] for c in cluster_by]}
                    ),
                    "removed": False,
                }})
            # stats follow the CREATE-time configuration; the frame
            # defines the table, so there are no rules to check it by
            plan = plan._replace(
                actions=actions, stats_cols=_stats_index_cols(schema_json, configuration),
                rules=_Rules.of(None, None),
            )
        elif overwrite_schema:
            # delta-spark's overwriteSchema: replace schema AND
            # partitioning from this frame — the only legal way to
            # change a table's partition layout. Generated, default and
            # identity columns of the old schema do not carry over; its
            # CHECK constraints do.
            if mode != "overwrite":
                raise DeltaProtocolError(
                    "overwrite_schema requires mode='overwrite'"
                )
            if self._mapping_of(prior):
                raise DeltaProtocolError(
                    "overwrite_schema on column-mapped tables is "
                    "not supported (fresh physical names would need "
                    "mapping reassignment)"
                )
            if prior.domain_metadata.get("delta.clustering"):
                raise DeltaProtocolError(
                    "overwrite_schema on a liquid-clustered table is "
                    "not supported; alter_cluster_by([]) first"
                )
            plan = self._plan_append(None, schema_json, partition_by)._replace(
                version=prior.version,
                actions=[_metadata(
                    prior, schema_string=schema_json, partition_columns=list(partition_by or [])
                )] + _variant_upgrade(prior.protocol, schema_json),
                stats_cols=_stats_index_cols(schema_json, prior.configuration),
                rules=_Rules.of(None, prior.configuration),
            )
        else:
            plan = self._plan_append(prior, schema_json, partition_by or None)
            df = self._fill_append(df, plan.rules, prior.schema_string)
        committed = self._commit_append(
            plan, [], txn, mode.upper(), snap=prior, rows=df, removes=removes,
            pinned=first or mode == "overwrite",
        )
        cfg = _committed_metadata(prior, plan.actions).get("configuration") or {}
        if committed >= 0 and cfg.get("delta.autoOptimize.autoCompact") == "true":
            # auto-compaction (round 9, delta's autoCompact semantics):
            # streaming ingestion is the #1 small-files producer — when
            # armed, a post-write check bin-packs once the live file
            # count reaches the threshold. Best-effort, like periodic
            # checkpoints: a failed/raced compaction never fails the
            # already-durable write.
            try:
                threshold = int(cfg.get("delta.autoOptimize.minNumFiles") or 50)
                if len(self.snapshot().files) >= threshold:
                    self.compact(df.sparkSession, target_files=1)
            except (OSError, DeltaProtocolError, DeltaConcurrentCommit):
                pass
        return committed

    def merge_upsert(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        schema_evolution: bool = False,
    ) -> int:
        """MERGE: update rows matching ``key_cols``, insert the rest —
        the standard touched-file rewrite every Delta implementation
        uses, in one commit.

        Phases (each distributed; only the touched-file *list* reaches
        the driver, as in every Delta merge):

        1. find touched files — semi-join the table scan against the
           distinct source keys on ``_metadata.file_path``;
        2. rewrite survivors — rows of touched files whose key is NOT in
           the source — plus all source rows (update ∪ insert);
        3. commit remove(touched) + add(rewritten) at the snapshot's
           version (``DeltaConcurrentCommit`` on a lost race).

        Untouched files are never read twice nor rewritten. Source must
        not contain duplicate keys (caller contract, as in Delta MERGE).

        ``schema_evolution=True`` is delta-spark's ``MERGE WITH SCHEMA
        EVOLUTION``: source-only columns are APPENDED to the table
        schema in the same commit (additive only — _merge_schema_strings
        rejects type changes); survivors and pre-images null-fill the
        new columns, untouched files pick them up at read time because
        _read_files always pins the widened LOG schema.
        """
        snap = self.snapshot()
        self._guard_writable(snap)
        table_cols = (
            [f["name"] for f in json.loads(snap.schema_string)["fields"]]
            if snap.schema_string
            else source.columns
        )
        unknown = [c for c in source.columns if c not in table_cols]
        evolved: str | None = None
        if unknown:
            if not schema_evolution:
                raise DeltaProtocolError(
                    f"merge source has columns not in the table: {unknown}; "
                    "evolve the schema with write() first or pass "
                    "schema_evolution=True"
                )
            if self._mapping_of(snap):
                raise DeltaProtocolError(
                    "MERGE schema evolution on a column-mapped table is not "
                    "supported (new columns need physical names/field ids)"
                )
            evolved = self._merge_schema_strings(snap.schema_string, source.schema.json())
            table_cols = [f["name"] for f in json.loads(evolved)["fields"]]

        def _fill_new(df: DataFrame) -> DataFrame:
            # target-side frames predate the evolution: null-fill the
            # appended columns at the SOURCE's declared types
            for c in unknown:
                df = df.withColumn(c, F.lit(None).cast(source.schema[c].dataType))
            return df
        bad_ident = [
            c
            for c, spec in _Rules.of(snap.schema_string, None).identity.items()
            if c not in source.columns or not spec["allow"]
        ]
        if bad_ident:
            raise DeltaProtocolError(
                f"MERGE into a table with identity columns {bad_ident} requires "
                "the source to provide them explicitly and "
                "delta.identity.allowExplicitInsert=true"
            )
        keys = source.select(*key_cols).distinct()
        touched: list[str] = []
        if snap.files:
            # live rows with the decoded file path _fp, mapped back to
            # the logged path (a clone's files keep their absolute one)
            by_fp = {os.path.abspath(os.path.join(self.path, p)): p for p in snap.files}
            scan = self._live_rows(spark, snap, snap.files, row_ids=False, keys=("_fp",))
            touched = [
                by_fp[r._fp]
                for r in scan.join(keys, key_cols, "left_semi")
                .select("_fp")
                .distinct()
                .collect()
            ]
        # generated columns: compute the ones the source omits, validate
        # the ones it provides; remaining absent columns null-fill
        aligned_source = self._apply_generated(
            source, _Rules.of(snap.schema_string, None).generated
        )
        for c in table_cols:
            if c not in aligned_source.columns:
                aligned_source = aligned_source.withColumn(c, F.lit(None))
        aligned_source = aligned_source.select(*table_cols)
        rt = _rt_enabled(snap.configuration)
        rt_cols = ["row_id", "row_commit_version"] if rt else []
        # row-tracked tables: UPDATED rows inherit the target row's
        # row_id (joined in below) with a null commit version — "modified
        # at this commit" — and inserts take fresh ids
        nul = F.lit(None).cast("long")
        rewritten = aligned_source.select(*table_cols, *[nul.alias(c) for c in rt_cols])
        if touched:
            # live visibility: survivors of a DV-carrying file are its
            # LIVE rows only (resurrecting deleted ones would be a wrong
            # answer). On a row-tracked table survivors keep (row_id,
            # commit version).
            live = _fill_new(self._live_rows(spark, snap, touched))
            if rt:
                old_ids = live.join(keys, key_cols, "left_semi").select(
                    *key_cols, "row_id"
                )
                rewritten = rewritten.drop("row_id").join(old_ids, key_cols, "left")
            rewritten = (
                live.join(keys, key_cols, "left_anti")
                .select(*table_cols, *rt_cols)
                .unionByName(rewritten.select(*table_cols, *rt_cols))
            )
        self._validate_constraints(
            rewritten, _Rules.of(evolved or snap.schema_string, snap.configuration)
        )

        def change_rows() -> DataFrame:
            # exact MERGE change rows (Delta "Change Data Feed"):
            # update_preimage = touched LIVE rows whose key matches the
            # source; update_postimage = the matching source rows;
            # insert = source rows with no existing key. A reader-side
            # derivation from remove+add cannot express pre/post images
            # — that is the entire point of cdc files.
            if not touched:
                return aligned_source.withColumn("_change_type", F.lit("insert"))
            pre = live.join(keys, key_cols, "left_semi").select(*table_cols)
            matched_keys = pre.select(*key_cols).distinct()
            post = aligned_source.join(matched_keys, key_cols, "left_semi")
            ins = aligned_source.join(matched_keys, key_cols, "left_anti")
            return (
                pre.withColumn("_change_type", F.lit("update_preimage"))
                .unionByName(post.withColumn("_change_type", F.lit("update_postimage")))
                .unionByName(ins.withColumn("_change_type", F.lit("insert")))
            )

        # the widened schema rides the SAME commit (op='m' boundary for
        # CDC consumers, exactly like the append-evolution path)
        return self._rewrite(
            snap, "MERGE", touched, rewritten, change_rows=change_rows,
            actions=[_metadata(snap, schema_string=evolved)] if evolved else [],
        )

    @staticmethod
    def _guard_writable(snap: Snapshot, data_change_removes: bool = True) -> None:
        """Writer-side gates, mirroring _check_protocol (ADVICE r7 #3).

        - column-mapped tables are WRITABLE: name mode since round 8
          via logical → physical staging renames, id mode since round 9
          (staging stamps ``parquet.field.id`` on every column — JVM
          parquet writes them under fieldId.write.enabled, default on).
          Nested-struct mapped columns stay read-only in BOTH modes
          (top-level staging renames cannot reach mapped subfields).
        - legacy minWriterVersion 3-6: every implied feature
          (_LEGACY_WRITER_IMPLIED — checkConstraints, changeDataFeed,
          generatedColumns, columnMapping, identityColumns) is
          implemented and enforced through its activation switch
          (configuration / schema metadata), which the write paths
          consult regardless of protocol version — so these versions
          are accepted as of round 8. Anything newer than 7 rejects.
        - minWriterVersion 7: every writerFeature must be in
          _SUPPORTED_WRITER_FEATURES, or a commit could silently violate
          e.g. rowTracking.
        - appendOnly (config-armed) refuses data-changing removes;
          column invariants (schema-metadata-armed) refuse all writes —
          we do not evaluate them, so committing would skip enforcement.
        """
        if (
            (snap.configuration or {}).get("delta.columnMapping.mode")
            in ("name", "id")
            and snap.schema_string
            and any(
                _contains_struct(f["type"])
                for f in json.loads(snap.schema_string)["fields"]
            )
        ):
            # _to_physical renames only top-level columns; staging a
            # mapped nested struct would leave LOGICAL subfield names in
            # the file. Reads ARE supported (recursive rename).
            raise DeltaProtocolError(
                "writes to tables with column-mapped nested struct "
                "columns are not supported (read-only)"
            )
        p = snap.protocol
        mwv = int(p.get("minWriterVersion") or 2)
        if mwv == 7:
            unsupported = set(p.get("writerFeatures") or ()) - _SUPPORTED_WRITER_FEATURES
            if unsupported:
                raise DeltaProtocolError(
                    f"unsupported protocol writer features: {sorted(unsupported)}"
                )
        elif mwv > 7:
            raise DeltaProtocolError(
                f"unsupported writer protocol minWriterVersion={mwv}"
            )
        if data_change_removes and (
            (snap.configuration or {}).get("delta.appendOnly") == "true"
        ):
            raise DeltaProtocolError(
                "delta.appendOnly table: data-changing removes are forbidden"
            )
        if snap.schema_string and '"delta.invariants"' in snap.schema_string:
            raise DeltaProtocolError(
                "column invariants present in the schema are not enforced "
                "by this writer; refusing to commit"
            )
        # collations-preview: UTF8_BINARY-only tables are writable —
        # binary ordering IS the collation ordering, so footer stats
        # stay sound; any non-binary collation refuses by name here
        _guard_collations(snap.schema_string)

    @staticmethod
    def _remove_action(
        snap: Snapshot, path: str, now_ms: int, data_change: bool = True
    ) -> dict:
        """Build a remove action, COPYING the removed file's
        deletionVector descriptor when it carries one (ADVICE r7 #2:
        cdc() keys its row filter on the action's DV, so a rewrite of a
        DV-carrying file without the descriptor would re-emit the
        already-deleted rows as op='d' change events; the spec's
        remove-carries-DV shape is also what vacuum accounting reads)."""
        r: dict = {
            "path": path,
            "deletionTimestamp": now_ms,
            "dataChange": data_change,
            "partitionValues": snap.partition_values.get(path, {}),
        }
        sz = snap.adds.get(path, {}).get("size")
        if sz is not None:
            # spec-optional, but carrying it keeps the version-checksum
            # account incremental (O(commit), never O(table))
            r["size"] = int(sz)
        dv = snap.adds.get(path, {}).get("deletionVector")
        if dv:
            r["deletionVector"] = dv
        return {"remove": r}

    def _rewrite(
        self,
        snap: Snapshot,
        operation: str,
        removed: list[str],
        rows: DataFrame | None,
        *,
        data_change: bool = True,
        change_rows: Callable[[], DataFrame] | None = None,
        actions: list[dict] | None = None,
    ) -> int:
        """The one commit that replaces files: DELETE, UPDATE, MERGE,
        OPTIMIZE and REORG all publish through here, so the remove/add
        shape a change reader sees is decided in one place, against
        the one snapshot the operation read.

        - ``removed`` (live paths of ``snap``) become remove actions
          sharing one deletion timestamp; ``actions`` (a schema or
          protocol change, DV re-adds) follow them unchanged.
        - ``rows`` are staged as new files under the snapshot's column
          mapping and footer-stats policy. On a row-tracked table they
          carry the logical ``row_id`` / ``row_commit_version``
          (``_live_rows``), renamed here into the materialized columns
          so rewritten rows keep their identity.
        - ``data_change`` stamps every remove and add; false marks a
          layout-only rewrite that change readers skip.
        - ``change_rows`` builds the exact change rows (with
          ``_change_type``). It is called, staged as cdc files and the
          protocol upgraded only when the change feed is armed.

        The commit is pinned to ``snap.version``: a racer's commit
        raises DeltaConcurrentCommit."""
        cfg = snap.configuration or {}
        physical = _physical_names(snap.schema_string, cfg)
        stats_cols = _stats_index_cols(snap.schema_string, cfg)
        now_ms = int(time.time() * 1000)
        out = [self._remove_action(snap, p, now_ms, data_change) for p in removed]
        out += actions or []
        if rows is not None:
            if _rt_enabled(cfg):
                mat_id, mat_rcv = _rt_mat_cols(cfg)
                rows = rows.withColumnRenamed("row_id", mat_id).withColumnRenamed(
                    "row_commit_version", mat_rcv
                )
            out += self._stage_and_move(rows, snap.partition_columns, stats_cols, physical)
        for a in out:
            if "add" in a:
                a["add"]["dataChange"] = data_change
        if change_rows is not None and _cdf_enabled(cfg):
            out += self._stage_and_move(
                change_rows(), snap.partition_columns, stats_cols, physical, cdc=True
            )
            # one protocol action per commit: merge the feature into a
            # caller's upgrade (e.g. deletion vectors) instead of
            # publishing a second action that would drop it
            protos = [a["protocol"] for a in out if "protocol" in a]
            upgrade = self._cdf_protocol_actions(protos[-1] if protos else snap.protocol)
            if upgrade:
                out = [a for a in out if "protocol" not in a] + upgrade
        return self._commit(snap, out, operation=operation, read_version=snap.version)

    def delete_where_dv(
        self,
        spark: SparkSession,
        predicate: str,
        filters: list[tuple[str, str, object]] | None = None,
    ) -> int:
        """Row-level delete WITHOUT rewriting data files: write deletion
        vectors and re-add each touched file with its DV descriptor —
        the merge-on-read shape (Delta PROTOCOL.md "Deletion Vectors";
        remove+add of the same path with ``dataChange=true``). At 100 TB
        this turns "delete 0.1% of rows" from a full rewrite of every
        touched file into a bitmap write per file.

        Scale shape: matching row indexes are grouped by file ON
        EXECUTORS (``applyInPandas`` per file), unioned with the file's
        old bitmap (its raw compressed bytes ship in the closure —
        descriptors replace, they do not stack) and serialized there.
        Only O(touched files) compressed bitmap blobs reach the driver,
        never row indexes. The driver packs every payload of the commit
        into ONE ``.bin`` (the real-writer layout) and writes it through
        the FileSystem abstraction, so the same path serves local disk
        and object stores, whose client handle is driver-held.
        ``filters`` prunes un-matchable files exactly like
        :meth:`delete_where`."""
        from pulsar_io_delta_spark.sources.deletion_vectors import (
            resolve_dv_bytes,
            write_dv_payloads,
        )

        snap = self.snapshot()
        self._guard_writable(snap)
        candidates = self._select_files(snap, filters)
        if not candidates:
            return self._rewrite(snap, "DELETE", [], None)
        # Live rows only, so a file whose matches are all deleted
        # already is left alone. Mapped tables evaluate the
        # (logical-name) predicate after the rename while _ridx stays
        # the PHYSICAL row ordinal the DV addresses.
        matched = (
            self._live_rows(spark, snap, candidates, row_ids=False, keys=("_fp", "_ridx"))
            .where(predicate)
            .select("_fp", "_ridx")
        )
        by_fp = {os.path.abspath(os.path.join(self.path, p)): p for p in candidates}
        old_dv_data = {
            fp: resolve_dv_bytes(dv, self.path, self.fs)
            for fp, p in by_fp.items()
            if (dv := snap.adds[p].get("deletionVector"))
        }

        def stage_group(pdf):
            import pandas as pd

            from pulsar_io_delta_spark.sources.deletion_vectors import (
                deserialize_bitmap,
                serialize_bitmap,
            )

            fp = pdf["_fp"].iloc[0]
            idx = set(int(i) for i in pdf["_ridx"])
            old = old_dv_data.get(fp)
            if old is not None:
                idx |= set(deserialize_bitmap(old))
            return pd.DataFrame(
                {
                    "_fp": [fp],
                    "_payload": [serialize_bitmap(sorted(idx))],
                    "_card": [len(idx)],
                }
            )

        staged = sorted(
            matched.groupBy("_fp")
            .applyInPandas(stage_group, "_fp string, _payload binary, _card long")
            .collect(),
            key=lambda r: r._fp,
        )
        if not staged:
            return self._rewrite(snap, "DELETE", [], None)
        descs = write_dv_payloads(
            self.path, [(bytes(r._payload), int(r._card)) for r in staged], fs=self.fs
        )
        touched = [by_fp[r._fp] for r in staged]
        # DV writes require the table-features protocol; merged with the
        # prior protocol so existing features survive (the spec forbids
        # dropping features — ADVICE r7 #1)
        actions: list[dict] = [{"protocol": _dv_upgraded_protocol(snap.protocol)}]
        for p, desc in zip(touched, descs):
            add = dict(snap.adds[p])
            add["deletionVector"] = desc
            # spec ("Per-file Statistics" × DVs): a DV-carrying add's
            # stats keep the PHYSICAL numRecords and valid-but-not-
            # tight min/max — declared via tightBounds=false (deletion
            # only removes rows, so pruning semantics are unchanged)
            stats = add.get("stats")
            if stats:
                st = json.loads(stats) if isinstance(stats, str) else dict(stats)
                st["tightBounds"] = False
                add["stats"] = json.dumps(st)
            actions.append({"add": add})
        # exact delete change rows: the LIVE rows matching the predicate
        # (`matched` above may re-match already-DV-deleted rows — those
        # must NOT re-report)
        return self._rewrite(
            snap, "DELETE", touched, None, actions=actions,
            change_rows=lambda: self._live_rows(spark, snap, candidates, row_ids=False)
            .where(predicate)
            .withColumn("_change_type", F.lit("delete")),
        )

    def update_where(
        self,
        spark: SparkSession,
        predicate: str,
        assignments: dict[str, str],
        filters: list[tuple[str, str, object]] | None = None,
    ) -> int:
        """UPDATE ... SET: rewrite only the files that contain matching
        rows, applying ``assignments`` (column → SQL expression over the
        pre-update row) to rows where ``predicate`` is TRUE; rows where
        it is FALSE or NULL are kept unchanged (SQL UPDATE semantics).
        With delta.enableChangeDataFeed armed the commit carries exact
        update_preimage/update_postimage cdc rows.

        Scale shape: touch detection is a distributed scan + filter
        collecting only file PATHS; untouched files are never read twice
        nor rewritten; ``filters`` adds partition/stats pruning before
        any file is opened (at 100 TB: update one day's partition,
        rewrite one day's matching files)."""
        snap = self.snapshot()
        self._guard_writable(snap)
        table_cols = (
            [f["name"] for f in json.loads(snap.schema_string)["fields"]]
            if snap.schema_string
            else []
        )
        unknown = [c for c in assignments if c not in table_cols]
        if unknown:
            raise DeltaProtocolError(f"UPDATE assigns unknown columns: {unknown}")
        rules = _Rules.of(snap.schema_string, snap.configuration)
        gen = rules.generated
        assigned_gen = [c for c in assignments if c in gen]
        if assigned_gen:
            raise DeltaProtocolError(
                f"UPDATE cannot assign generated columns {assigned_gen}; "
                "they are recomputed from their generation expressions"
            )
        assigned_ident = [
            c for c in assignments if c in rules.identity
        ]
        if assigned_ident:
            raise DeltaProtocolError(
                f"UPDATE cannot assign identity columns {assigned_ident}"
            )
        candidates = self._select_files(snap, filters)
        if not candidates:
            return self._rewrite(snap, "UPDATE", [], None)
        # touch detection: only file paths reach the driver
        probe = self._live_rows(spark, snap, candidates, row_ids=False, keys=("_fp",))
        by_fp = {os.path.abspath(os.path.join(self.path, p)): p for p in candidates}
        touched = [
            by_fp[r._fp]
            for r in probe.where(predicate).select("_fp").distinct().collect()
        ]
        if not touched:
            return self._rewrite(snap, "UPDATE", [], None)
        rt = _rt_enabled(snap.configuration)
        # row-tracked tables: kept rows preserve (row_id, commit version)
        # through the materialized columns; UPDATED rows keep their
        # row_id but take a NULL materialized commit version, falling
        # back to the new file's defaultRowCommitVersion — i.e. "row
        # modified at this commit", the spec's semantics.
        live = self._live_rows(spark, snap, touched)
        rt_keep = ["row_id", "row_commit_version"] if rt else []
        p = F.expr(predicate)
        matched = live.where(p)
        kept = live.where((~p) | p.isNull())
        updated = matched.select(
            [
                F.expr(assignments[c]).alias(c) if c in assignments else F.col(c)
                for c in table_cols
            ]
            + ([F.col("row_id"),
                F.lit(None).cast("long").alias("row_commit_version")] if rt else [])
        )
        if gen:
            # recompute generated columns over the post-assignment row
            # (their referenced base columns may have changed)
            updated = self._apply_generated(updated.drop(*gen.keys()), gen).select(*table_cols, *rt_keep)
        self._validate_constraints(updated, rules)
        return self._rewrite(
            snap, "UPDATE", touched, kept.unionByName(updated),
            change_rows=lambda: matched.select(*table_cols)
            .withColumn("_change_type", F.lit("update_preimage"))
            .unionByName(
                updated.select(*table_cols).withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            ),
        )

    def delete_where(
        self,
        spark: SparkSession,
        predicate: str,
        filters: list[tuple[str, str, object]] | None = None,
    ) -> int:
        """Row-level delete: rewrite affected files, emit remove+add —
        produces the op='r' stream the reference intends for RemoveFile.

        ``filters`` (same (col, op, val) shape as :meth:`read`) bounds
        the predicate from above: files whose partition values / footer
        stats prove no row can match are NOT rewritten — they stay in
        the snapshot under their original paths. At 100 TB a delete of
        one day's partition must rewrite one day's files, not the
        table; without ``filters`` every file is conservatively
        rewritten (the pre-round-6 behavior)."""
        snap = self.snapshot()
        self._guard_writable(snap)
        touched = self._select_files(snap, filters)
        if not touched:
            return self._rewrite(snap, "DELETE", [], None)
        # live visibility (never _read_files: rewriting a file that
        # carries a DV must not resurrect its deleted rows); on a
        # row-tracked table survivors keep their ids. A row survives
        # unless the predicate is TRUE: NULL keeps it, as in SQL DELETE
        # and delete_where_dv.
        p = F.expr(predicate)
        return self._rewrite(
            snap, "DELETE", touched,
            self._live_rows(spark, snap, touched).where((~p) | p.isNull()),
            change_rows=lambda: self._live_rows(spark, snap, touched, row_ids=False)
            .where(predicate)
            .withColumn("_change_type", F.lit("delete")),
        )

    def diff(
        self, spark: SparkSession, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Row-level diff between two snapshot versions, reading ONLY
        files that changed: rows with change='D' existed at ``v_from``
        but not ``v_to``; change='I' the reverse.

        Files present in both snapshots are untouched by definition and
        never scanned, so cost is O(changed files) — at 100 TB a diff
        across a day of commits reads the day's churn, not the table.
        The multiset comparison (exceptAll) is exact: a file rewrite
        that keeps a row (delete_where's kept rows land in a new file)
        contributes the row to both sides and cancels."""
        a = self.snapshot(v_from)
        b = self.snapshot(v_to)
        schema = b.schema_string or a.schema_string
        if schema is None:
            raise DeltaProtocolError("diff on a table with no schema")
        from pyspark.sql.types import StructType

        target = StructType.fromJson(json.loads(schema))

        # Change unit is (path, DV identity), not path alone: a DV
        # update re-adds the same path and its net row deletes must
        # surface here. A file in both snapshots with the SAME DV still
        # cancels without being scanned.
        def _units(s: Snapshot) -> dict[str, str]:
            return {
                p: json.dumps(
                    s.adds.get(p, {}).get("deletionVector") or {}, sort_keys=True
                )
                for p in s.files
            }

        ua, ub = _units(a), _units(b)
        removed = sorted(p for p, k in ua.items() if ub.get(p) != k)
        added = sorted(p for p, k in ub.items() if ua.get(p) != k)

        def _side(s: Snapshot, paths: list[str]) -> DataFrame:
            if not paths:
                return spark.createDataFrame([], target)
            # the side's own DVs apply; conform to the target schema
            # (evolution between versions null-fills)
            df = self._live_rows(spark, s, paths, row_ids=False)
            for f in target.fields:
                if f.name not in df.columns:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            return df.select(*[f.name for f in target.fields])

        old, new = _side(a, removed), _side(b, added)
        deleted = old.exceptAll(new).withColumn("change", F.lit("D"))
        inserted = new.exceptAll(old).withColumn("change", F.lit("I"))
        return deleted.unionAll(inserted)

    CONSTRAINT_PREFIX = "delta.constraints."

    def _validate_constraints(self, df: DataFrame, rules: _Rules) -> None:
        """Refuse a write whose rows violate a CHECK constraint of
        ``rules`` or put a null into one of its NOT NULL columns the
        frame carries. One limit(1) probe per CHECK constraint and one
        for all NOT NULL columns — none when the table has no rule."""
        quote = lambda c: "`{}`".format(c.replace("`", "``"))  # noqa: E731
        for what, violation in rules.probes(df.columns, quote):
            if df.where(violation).limit(1).count():
                raise DeltaConstraintViolation(f"{what} violated by incoming rows")

    def set_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """ADD CONSTRAINT name CHECK (expr): validates EXISTING data
        first (full scan, as Delta does), then publishes a metaData
        commit carrying the constraint in ``configuration``. Every
        subsequent write()/merge_upsert() validates against it and
        refuses violating commits loudly."""
        snap = self.snapshot()
        if snap.schema_string is None:
            raise DeltaProtocolError("cannot add a constraint to a schemaless table")
        if snap.files:
            self._validate_constraints(
                self.read(spark), _Rules.of(None, {self.CONSTRAINT_PREFIX + name: expr})
            )
        config = {**snap.configuration, self.CONSTRAINT_PREFIX + name: expr}
        return self._commit(
            snap, [_metadata(snap, configuration=config)],
            operation="ADD CONSTRAINT", read_version=snap.version,
        )

    def drop_constraint(self, name: str) -> int:
        snap = self.snapshot()
        key = self.CONSTRAINT_PREFIX + name
        if key not in snap.configuration:
            raise DeltaProtocolError(f"no such constraint: {name}")
        config = {k: v for k, v in snap.configuration.items() if k != key}
        return self._commit(
            snap, [_metadata(snap, configuration=config)],
            operation="DROP CONSTRAINT", read_version=snap.version,
        )

    # domains whose semantics THIS writer implements and maintains via
    # their own feature paths (row tracking's high-water mark, liquid
    # clustering's column list) — the user-facing domain API must never
    # mutate them, nor any other system-controlled 'delta.' domain
    # (Delta PROTOCOL.md "Domain Metadata": system domains may only be
    # modified by writers that understand them)
    _SYSTEM_DOMAIN_PREFIX = "delta."

    def _guard_user_domain(self, domain: str) -> None:
        if not domain:
            raise DeltaProtocolError("domain metadata needs a non-empty domain")
        if domain.startswith(self._SYSTEM_DOMAIN_PREFIX):
            raise DeltaProtocolError(
                f"domain '{domain}' is system-controlled ('delta.' prefix): "
                "it may only be modified by the feature that owns it "
                "(e.g. delta.clustering via optimize_clustered, "
                "delta.rowTracking via the commit path), never by the "
                "user domain-metadata API"
            )

    def domain_metadata(self) -> dict[str, str]:
        """Non-removed domain → configuration string at the latest
        snapshot (replay is last-wins, removed = dropped; checkpoints
        preserve every live domain)."""
        snap = self.snapshot()
        return {
            d: dm.get("configuration", "")
            for d, dm in sorted(snap.domain_metadata.items())
        }

    def set_domain_metadata(self, domain: str, configuration: str) -> int:
        """SET a user-controlled metadata domain (Delta PROTOCOL.md
        "Domain Metadata", round 13): one metadata-only commit carrying
        a domainMetadata action; auto-upgrades the protocol to the
        table-features form with the domainMetadata writer feature on
        first use (merging, never dropping, prior features). System
        ('delta.'-prefixed) domains refuse loudly — their state is
        owned by the features that maintain it."""
        self._guard_user_domain(domain)
        if not isinstance(configuration, str):
            raise DeltaProtocolError(
                "domain configuration must be a string (the spec stores "
                "an opaque string payload; serialize JSON yourself)"
            )
        snap = self.snapshot()
        self._guard_writable(snap, data_change_removes=False)
        actions: list[dict] = []
        if "domainMetadata" not in (snap.protocol.get("writerFeatures") or ()):
            actions.append(
                {
                    "protocol": _upgraded_protocol(
                        snap.protocol, (), ("domainMetadata",)
                    )
                }
            )
        actions.append(
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": configuration,
                    "removed": False,
                }
            }
        )
        return self._commit(
            snap, actions, operation="SET DOMAIN METADATA", read_version=snap.version
        )

    def remove_domain_metadata(self, domain: str) -> int:
        """REMOVE a user-controlled metadata domain: commits the spec's
        tombstone form (removed=true, configuration cleared) so replay
        and checkpoints drop it. Removing a domain that is not present
        refuses loudly — a typo'd domain name must not look like a
        successful removal."""
        self._guard_user_domain(domain)
        snap = self.snapshot()
        self._guard_writable(snap, data_change_removes=False)
        if domain not in snap.domain_metadata:
            raise DeltaProtocolError(
                f"domain '{domain}' is not set on this table "
                f"(live domains: {sorted(snap.domain_metadata) or 'none'})"
            )
        return self._commit(
            snap,
            [
                {
                    "domainMetadata": {
                        "domain": domain,
                        "configuration": "",
                        "removed": True,
                    }
                }
            ],
            operation="REMOVE DOMAIN METADATA",
            read_version=snap.version,
        )

    def restore(self, version: int | None = None, timestamp_ms: int | None = None) -> int:
        """RESTORE TABLE TO VERSION/TIMESTAMP AS OF: one commit whose
        add/remove actions make the latest snapshot's file set equal the
        target snapshot's — no data files are copied or rewritten, so
        the operation is O(churned file count) metadata regardless of
        table size, and every later version stays time-travel readable
        (restore moves the head, it does not erase history).

        ``timestamp_ms`` resolves through the same (ICT-aware) rule as
        time travel. Files to re-add must still exist on disk (not
        vacuumed) — verified here with a loud error rather than a
        broken snapshot."""
        if (version is None) == (timestamp_ms is None):
            raise DeltaProtocolError("restore needs exactly one of version/timestamp_ms")
        version = self.resolve_version(version, timestamp_ms)
        target = self.snapshot(version)
        cur = self.snapshot()
        if cur.version == target.version:
            return cur.version  # nothing to do
        self._guard_writable(cur)
        now_ms = int(time.time() * 1000)
        actions: list[dict] = []
        for p in sorted(set(target.files) - set(cur.files)):
            if not self.fs.exists(os.path.join(self.path, p)):
                raise DeltaProtocolError(
                    f"restore to v{version} needs vacuumed file {p}"
                )
            add = dict(target.adds.get(p, {}))
            add.setdefault("path", p)
            add["dataChange"] = True
            actions.append({"add": add})
        for p in sorted(set(cur.files) - set(target.files)):
            actions.append(self._remove_action(cur, p, now_ms))
        if target.schema_string and (
            target.schema_string != cur.schema_string
            or target.configuration != cur.configuration
        ):
            actions.append(_metadata(
                cur,
                schema_string=target.schema_string,
                partition_columns=target.partition_columns,
                configuration=target.configuration,
            ))
        return self._commit(cur, actions, operation="RESTORE", read_version=cur.version)

    def clone_from(
        self,
        source: "DeltaTable",
        version: int | None = None,
        timestamp_ms: int | None = None,
    ) -> int:
        """SHALLOW CLONE: one metadata commit whose add actions point at
        the SOURCE table's data files by ABSOLUTE path (Delta
        PROTOCOL.md allows add.path to be an absolute reference; this is
        the public shallow-clone layout). Zero bytes of data copied —
        O(live files) log work at any table size — and the clone then
        evolves independently: new writes land under the clone root,
        removes of source-owned files are metadata-only, vacuum never
        reaches outside the clone directory, and time travel inside the
        clone starts at this v0.

        Schema, partition columns, configuration, and protocol are
        copied from the source snapshot; DV descriptors are rebased
        u → p (absolute path) so merge-on-read visibility survives the
        re-rooting. Reference parity: the reference connector
        (DeltaReader.java) resolves add paths against the table root
        only — absolute adds extend that surface the way the spec
        directs, not the reference's subset."""
        if self.exists() and self.versions():
            raise DeltaProtocolError(
                f"clone target {self.path} already has a delta log"
            )
        snap = source.snapshot(version, timestamp_ms)
        _check_protocol(snap.protocol)
        if snap.schema_string is None:
            raise DeltaProtocolError("cannot clone a table with no schema")
        from pulsar_io_delta_spark.sources.deletion_vectors import dv_relative_path

        actions: list[dict] = [
            {"protocol": dict(snap.protocol)},
            # a clone is a new table: a fresh id over the source's metadata
            _metadata(
                None,
                schema_string=snap.schema_string,
                partition_columns=snap.partition_columns,
                configuration=snap.configuration,
            ),
        ]
        # domain state rides along (spec: writers must preserve domains
        # they don't own) — without it a row-tracked clone would restart
        # the rowIdHighWaterMark and collide fresh ids with cloned ones
        for dm in snap.domain_metadata.values():
            actions.append({"domainMetadata": dict(dm)})
        for p in sorted(snap.files):
            add = dict(snap.adds.get(p) or {})
            add["path"] = (
                p if os.path.isabs(p) else os.path.abspath(os.path.join(source.path, p))
            )
            dv = add.get("deletionVector")
            if dv and dv.get("storageType") == "u":
                add["deletionVector"] = {
                    **dv,
                    "storageType": "p",
                    "pathOrInlineDv": os.path.abspath(
                        os.path.join(
                            source.path, dv_relative_path(dv["pathOrInlineDv"])
                        )
                    ),
                }
            add["dataChange"] = True
            actions.append({"add": add})
        return self._commit(None, actions, operation="CLONE")

    def convert_from_parquet(self, spark: SparkSession) -> int:
        """CONVERT TO DELTA parquet.`path` (delta-spark surface): create
        a ``_delta_log`` IN PLACE referencing every parquet file under
        the table root — zero data rewritten, O(files) metadata work at
        any table size. Hive-style partition directories are discovered
        (``k=v`` segments; ``__HIVE_DEFAULT_PARTITION__`` → null;
        percent-escapes decoded), the schema comes from Spark's own
        parquet read (partition columns typed by the same inference the
        files will be scanned with), and every add carries footer stats
        (numRecords + min/max) so data skipping works from v0.

        The reference connector can only open pre-existing Delta tables
        (`DeltaReader.java:301-303`); conversion is how a parquet-lake
        user gets one without rewriting 100 TB."""
        if self.exists():
            raise DeltaProtocolError(f"already a delta table: {self.path}")
        df = spark.read.parquet(self.path)
        base = self.path.rstrip("/")
        rels = sorted(
            os.path.relpath(p, base).replace(os.sep, "/")
            for p in self.fs.walk_files(base)
            if p.endswith(".parquet") and "_delta_log" not in p
        )
        if not rels:
            raise DeltaProtocolError(f"no parquet files under {self.path}")
        pcols: list[str] | None = None
        now_ms = int(time.time() * 1000)
        # wide-lake guard: the default NumIndexedCols=32 policy applies
        # to conversion too (a 1000-column lake must not write kB of
        # stats per add)
        conv_stats_cols = _stats_index_cols(df.schema.json(), None)
        adds: list[dict] = []
        for rel in rels:
            segs = rel.split("/")[:-1]
            kv = [s.split("=", 1) for s in segs if "=" in s]
            cols = [k for k, _ in kv]
            if pcols is None:
                pcols = cols
            elif cols != pcols:
                raise DeltaProtocolError(
                    f"inconsistent partition layout: {rel} has {cols}, "
                    f"expected {pcols}"
                )
            pv = {k: hive_value(v) for k, v in kv}
            fp = os.path.join(base, rel)
            adds.append({
                "path": rel,
                "partitionValues": pv,
                "size": self.fs.size(fp),
                "modificationTime": self.fs.mtime_ms(fp),
                "dataChange": True,
                "stats": json.dumps(self._stats_for(fp, conv_stats_cols)),
            })
        plan = self._plan_append(None, df.schema.json(), pcols)
        return self._commit_append(plan, adds, None, "CONVERT", pinned=True)

    def commit_external_adds(
        self,
        adds: list[dict],
        operation: str,
        schema_json: str,
        partition_by: list[str] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Append files another writer staged in the table dir
        (``adds``: add actions with table-relative paths, in the table's
        partition dirs under its physical column names): ``write()``'s
        append without the frame, one ``_plan_append`` and one
        ``_commit_append``. ``schema_json`` is the files' schema (new
        columns extend the table's); ``partition_by`` None keeps the
        table's partitioning, another list must equal it. The files are
        checked against the table's CHECK, NOT NULL and generated
        columns; a delivered ``txn`` returns -1 and leaves them outside
        the log; a lost race commits at the next version while they
        still fit the table."""
        snap = self.snapshot() if self.exists() and self.versions() else None
        plan = self._plan_append(snap, schema_json, partition_by)
        return self._commit_append(plan, adds, txn, operation, snap=snap)

    def enable_column_mapping(self) -> int:
        """``ALTER TABLE ... SET ('delta.columnMapping.mode'='name')``
        on an existing unmapped table. Per the spec's upgrade semantics
        every existing column keeps its CURRENT name as its
        physicalName — files already on disk stay readable without a
        rewrite — and gets a ``columnMapping.id``; columns added later
        get fresh ``col-<uuid>`` physical names. The protocol upgrades
        to the table-features form, merging (never dropping) prior
        features. Idempotent: a second call is a no-op returning the
        current version."""
        snap = self.snapshot()
        self._guard_writable(snap, data_change_removes=False)
        if self._mapping_of(snap):
            return snap.version
        if snap.schema_string is None:
            raise DeltaProtocolError("cannot enable column mapping: no schema")
        s = json.loads(snap.schema_string)
        for i, f in enumerate(s["fields"], start=1):
            meta = dict(f.get("metadata") or {})
            meta["delta.columnMapping.id"] = i
            meta["delta.columnMapping.physicalName"] = f["name"]
            f["metadata"] = meta
        config = {
            **snap.configuration,
            "delta.columnMapping.mode": "name",
            "delta.columnMapping.maxColumnId": str(len(s["fields"])),
        }
        actions = [
            {"protocol": _upgraded_protocol(
                snap.protocol, ("columnMapping",), ("columnMapping",)
            )},
            _metadata(snap, schema_string=json.dumps(s), configuration=config),
        ]
        return self._commit(
            snap, actions, operation="UPGRADE", read_version=snap.version
        )

    def _guard_column_referenced(self, snap: Snapshot, name: str) -> None:
        """A rename/drop must not silently break expressions that
        reference the column by its LOGICAL name."""
        rules = _Rules.of(snap.schema_string, snap.configuration)
        for c, expr in rules.generated.items():
            if name in expr:
                raise DeltaProtocolError(
                    f"column {name!r} is referenced by generated column "
                    f"{c!r} ({expr!r}); drop or redefine it first"
                )
        for k, v in rules.checks.items():
            if name in v:
                raise DeltaProtocolError(
                    f"column {name!r} is referenced by constraint "
                    f"{self.CONSTRAINT_PREFIX}{k} ({v!r})"
                )

    def _guard_stats_cols_referenced(self, snap: Snapshot, name: str) -> None:
        """DROP COLUMN on a configured stats column refuses loudly
        (round 12): silently removing it from the allowlist could
        leave the property empty ( = stats on nothing) without the
        user ever naming that intent — update the property first."""
        stats_cols = (snap.configuration or {}).get(
            "delta.dataSkippingStatsColumns"
        )
        if stats_cols is not None:
            parts = {c.strip().strip("`") for c in stats_cols.split(",")}
            if name in parts:
                raise DeltaProtocolError(
                    f"column {name!r} is referenced by "
                    "delta.dataSkippingStatsColumns; update the property "
                    "before dropping the column"
                )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE ... RENAME COLUMN — METADATA-ONLY on a name-mode
        column-mapped table (the entire point of mapping): the logical
        name changes in the schemaString while physicalName and
        columnMapping.id stay, so every file on disk — and every future
        scan plan — is untouched. O(1) log work at any table size.
        Unmapped tables refuse (there a rename would need a full
        rewrite; run enable_column_mapping() first)."""
        snap = self.snapshot()
        self._guard_writable(snap, data_change_removes=False)
        if not self._mapping_of(snap):
            raise DeltaProtocolError(
                "RENAME COLUMN needs column mapping (metadata-only rename); "
                "call enable_column_mapping() first"
            )
        s = json.loads(snap.schema_string)
        names = [f["name"] for f in s["fields"]]
        if old not in names:
            raise DeltaProtocolError(f"no such column: {old!r}")
        if new in names:
            raise DeltaProtocolError(f"column {new!r} already exists")
        if old in snap.partition_columns:
            # partition dirs are physically named; renaming the logical
            # name is still metadata-only, but partitionColumns lists
            # LOGICAL names — keep them in sync
            raise DeltaProtocolError(
                "renaming a partition column is not supported"
            )
        self._guard_column_referenced(snap, old)
        for f in s["fields"]:
            if f["name"] == old:
                f["name"] = new
        # delta.dataSkippingStatsColumns lists LOGICAL names: rewrite
        # the entry in the SAME commit (round 12). The physical name —
        # which add-action stats are keyed by — is untouched, so every
        # existing file's min/max keeps pruning; without the rewrite
        # the next write would refuse (stats-column validation) or,
        # before round 12, silently go stats-blind on the column.
        config = snap.configuration
        stats_cols = config.get("delta.dataSkippingStatsColumns")
        if stats_cols is not None:
            parts = [c.strip().strip("`") for c in stats_cols.split(",")]
            if old in parts:
                config["delta.dataSkippingStatsColumns"] = ",".join(
                    new if p == old else p for p in parts if p
                )
        return self._commit(
            snap, [_metadata(snap, schema_string=json.dumps(s), configuration=config)],
            operation="RENAME COLUMN", read_version=snap.version,
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE ... DROP COLUMN — metadata-only on a mapped
        table: the field leaves the logical schema; the physical data
        stays in the files, simply never read again (the spec's drop
        semantics — REORG/rewrite reclaims the bytes later if wanted).
        O(1) log work at any table size."""
        snap = self.snapshot()
        self._guard_writable(snap, data_change_removes=False)
        if not self._mapping_of(snap):
            raise DeltaProtocolError(
                "DROP COLUMN needs column mapping (metadata-only drop); "
                "call enable_column_mapping() first"
            )
        s = json.loads(snap.schema_string)
        names = [f["name"] for f in s["fields"]]
        if name not in names:
            raise DeltaProtocolError(f"no such column: {name!r}")
        if name in snap.partition_columns:
            raise DeltaProtocolError("dropping a partition column is not supported")
        if len(names) == 1:
            raise DeltaProtocolError("cannot drop the only column")
        self._guard_column_referenced(snap, name)
        self._guard_stats_cols_referenced(snap, name)
        s["fields"] = [f for f in s["fields"] if f["name"] != name]
        return self._commit(
            snap, [_metadata(snap, schema_string=json.dumps(s))],
            operation="DROP COLUMN", read_version=snap.version,
        )

    def compact(
        self,
        spark: SparkSession,
        target_files: int = 1,
        filters: list[tuple[str, str, object]] | None = None,
    ) -> int:
        """OPTIMIZE-style bin-packing: rewrite the current snapshot's
        files into ``target_files`` per partition, committing
        remove+add with dataChange=false semantics (CDC readers skip
        pure-compaction commits). The small-files problem is the #1
        operational issue of streaming ingestion at scale.

        ``filters`` is OPTIMIZE ... WHERE (round 9): only files whose
        partition values match are rewritten — at 100 TB you compact
        the one hot ingest partition, O(selected files), never the
        table. Non-partition predicates refuse loudly (the spec limits
        OPTIMIZE WHERE to partition predicates: a row predicate cannot
        select whole files)."""
        snap = self.snapshot()
        # OPTIMIZE is legal even on appendOnly tables (dataChange=false)
        self._guard_writable(snap, data_change_removes=False)
        bad = [c for c, _op, _v in filters or () if c not in snap.partition_columns]
        if bad:
            raise DeltaProtocolError(
                f"OPTIMIZE WHERE supports partition predicates only; "
                f"{bad} are not partition columns"
            )
        targets = self._select_files(snap, filters)
        if filters and not targets:
            return snap.version  # nothing selected: no-op
        return self._rewrite(
            snap, "OPTIMIZE", targets,
            self._live_rows(spark, snap, targets).coalesce(target_files),
            data_change=False,
        )

    def clustering_columns(self, snap: "Snapshot | None" = None) -> list[str]:
        """Liquid-clustering column names from the delta.clustering
        metadata domain (empty for unclustered tables). We store
        logical top-level names; nested clustering columns would arrive
        as multi-part paths and refuse loudly."""
        snap = snap or self.snapshot()
        dm = snap.domain_metadata.get("delta.clustering")
        if not dm:
            return []
        cols = json.loads(dm.get("configuration") or "{}").get(
            "clusteringColumns", []
        )
        out = []
        for path in cols:
            if len(path) != 1:
                raise NotImplementedError(
                    f"nested clustering column {'.'.join(path)} is not supported"
                )
            out.append(path[0])
        return out

    def history(self, limit: int | None = None) -> list[dict]:
        """DESCRIBE HISTORY: newest-first commit records (version,
        timestamp, operation, inCommitTimestamp when armed) from the
        commitInfo actions still present in the log. O(visible
        commits) driver-side metadata — checkpointed-away versions are
        not replayed (their commitInfo is gone by design)."""
        out: list[dict] = []
        for v in sorted(self.json_versions(), reverse=True):
            rec = {"version": v, "timestamp": None, "operation": None}
            for a in self.actions(v):
                if "commitInfo" in a:
                    ci = a["commitInfo"]
                    rec["timestamp"] = ci.get("timestamp")
                    rec["operation"] = ci.get("operation")
                    if "inCommitTimestamp" in ci:
                        rec["inCommitTimestamp"] = ci["inCommitTimestamp"]
                    if "operationMetrics" in ci:
                        rec["operationMetrics"] = ci["operationMetrics"]
                    break
            out.append(rec)
            if limit is not None and len(out) >= limit:
                break
        return out

    def set_column_default(self, column: str, default_sql: str) -> int:
        """ALTER TABLE ... ALTER COLUMN c SET DEFAULT <expr> (Delta
        PROTOCOL.md "Default columns"): stamp CURRENT_DEFAULT into the
        field's schema metadata and arm allowColumnDefaults — a
        metadata-only commit. Subsequent write()s that omit the column
        evaluate the expression; existing rows are untouched (Delta's
        write-time-only semantics — backfill would be Iceberg's
        initial-default, a different feature)."""
        snap = self.snapshot()
        s = json.loads(snap.schema_string)
        field = next((f for f in s["fields"] if f["name"] == column), None)
        if field is None:
            raise DeltaProtocolError(f"no such column: {column}")
        # the expression must at least parse and fold to the column
        # type at commit time, or every later write would fail
        F.expr(default_sql)
        field.setdefault("metadata", {})["CURRENT_DEFAULT"] = default_sql
        actions: list[dict] = []
        feats = set(snap.protocol.get("writerFeatures") or ())
        if "allowColumnDefaults" not in feats:
            actions.append({"protocol": _upgraded_protocol(
                snap.protocol, (), ("allowColumnDefaults",)
            )})
        actions.append(_metadata(snap, schema_string=json.dumps(s)))
        return self._commit(
            snap, actions, operation="ALTER COLUMN", read_version=snap.version
        )

    def drop_column_default(self, column: str) -> int:
        """ALTER COLUMN c DROP DEFAULT: metadata-only removal."""
        snap = self.snapshot()
        s = json.loads(snap.schema_string)
        field = next((f for f in s["fields"] if f["name"] == column), None)
        if field is None:
            raise DeltaProtocolError(f"no such column: {column}")
        if "CURRENT_DEFAULT" not in (field.get("metadata") or {}):
            return snap.version  # no default: no-op
        del field["metadata"]["CURRENT_DEFAULT"]
        return self._commit(
            snap, [_metadata(snap, schema_string=json.dumps(s))],
            operation="ALTER COLUMN", read_version=snap.version,
        )

    def set_properties(self, props: dict[str, str]) -> int:
        """ALTER TABLE ... SET TBLPROPERTIES: a metadata-only commit
        merging ``props`` into the table configuration.

        Arming ``delta.enableInCommitTimestamps`` mid-life additionally
        upgrades the protocol with the ``inCommitTimestamp`` writer
        feature, and _commit stamps the spec's enablement provenance
        properties (enablement version + timestamp) on the same commit
        — the handshake delta-spark performs on ALTER TABLE
        (PROTOCOL.md "In-Commit Timestamps")."""
        snap = self.snapshot()
        actions: list[dict] = []
        if props.get("delta.enableInCommitTimestamps") == "true":
            feats = set(snap.protocol.get("writerFeatures") or ())
            if not feats & {"inCommitTimestamp", "inCommitTimestamp-preview"}:
                actions.append({"protocol": _upgraded_protocol(
                    snap.protocol, (), ("inCommitTimestamp",)
                )})
        if props.get("delta.requireCheckpointProtectionBeforeVersion"):
            # the property is meaningless without its enforcing feature
            # (a non-supporting writer would ignore the boundary), so
            # setting it performs the protocol handshake too
            feats = set(snap.protocol.get("writerFeatures") or ())
            if "checkpointProtection" not in feats:
                actions.append({"protocol": _upgraded_protocol(
                    snap.protocol, (), ("checkpointProtection",)
                )})
        actions.append(_metadata(snap, configuration={**snap.configuration, **props}))
        return self._commit(
            snap, actions, operation="SET TBLPROPERTIES", read_version=snap.version
        )

    def alter_cluster_by(self, cluster_by: list[str]) -> int:
        """ALTER TABLE ... CLUSTER BY: replace the clustering column
        list (or arm clustering on an existing unclustered table) with
        one metadata-only commit — no data rewrite; the new layout
        materializes at the next optimize_clustered(). CLUSTER BY NONE
        is an empty list, which REMOVES the domain (the spec's way to
        un-cluster)."""
        snap = self.snapshot()
        if snap.partition_columns:
            raise DeltaProtocolError(
                "clustered tables are unpartitioned (spec): cannot "
                "CLUSTER BY a partitioned table"
            )
        schema_cols = {f["name"] for f in json.loads(snap.schema_string)["fields"]}
        missing = [c for c in cluster_by if c not in schema_cols]
        if missing:
            raise DeltaProtocolError(f"clustering columns not in schema: {missing}")
        actions: list[dict] = []
        feats = set(snap.protocol.get("writerFeatures") or ())
        if cluster_by and not {"clusteredTable", "domainMetadata"} <= feats:
            actions.append({"protocol": _upgraded_protocol(
                snap.protocol, (), ("clusteredTable", "domainMetadata")
            )})
        if cluster_by:
            actions.append({"domainMetadata": {
                "domain": "delta.clustering",
                "configuration": json.dumps(
                    {"clusteringColumns": [[c] for c in cluster_by]}
                ),
                "removed": False,
            }})
        elif "delta.clustering" in snap.domain_metadata:
            actions.append({"domainMetadata": {
                "domain": "delta.clustering", "configuration": "", "removed": True,
            }})
        else:
            return snap.version  # CLUSTER BY NONE on unclustered: no-op
        return self._commit(
            snap, actions, operation="CLUSTER BY", read_version=snap.version
        )

    def optimize_clustered(
        self, spark: SparkSession, target_files: int = 8, bits: int = 16
    ) -> int:
        """OPTIMIZE on a liquid-clustered table: rewrite the snapshot in
        HILBERT order over the delta.clustering columns into
        ``target_files`` range-disjoint files, dataChange=false (CDC
        readers skip it, exactly like bin-packing compact()).

        Why Hilbert and not Z-order: consecutive Hilbert index values
        are always grid neighbors, so each output file covers one
        compact blob of the d-dimensional key space and its footer
        min/max stays tight on EVERY clustering column — a box
        predicate on any subset of them prunes to O(selectivity) of the
        files. At 100 TB this rewrite is the same repartition-and-sort
        shape as compact(): one range exchange on the index, stats
        gathered from staged footers, and the clustering key costs
        O(bits·d) vectorized bit-ops per Arrow batch (the bucketing is
        codegen'd; only the bit-twiddle runs in a pandas UDF)."""
        from pulsar_io_delta_spark.operators.layout import hilbert_col

        snap = self.snapshot()
        cols = self.clustering_columns(snap)
        if not cols:
            raise DeltaProtocolError(
                "optimize_clustered on a table without delta.clustering "
                "domain metadata — use compact() for bin-packing"
            )
        self._guard_writable(snap, data_change_removes=False)
        df = self._live_rows(spark, snap, snap.files)
        aggs = []
        for c in cols:
            aggs += [F.min(c), F.max(c)]
        row = df.agg(*aggs).first()
        if row[0] is None:  # empty table: nothing to rewrite
            return snap.version
        ranges = [
            (float(row[2 * i]), float(row[2 * i + 1])) for i in range(len(cols))
        ]
        ordered = (
            df.withColumn("_h", hilbert_col([F.col(c) for c in cols], ranges, bits))
            .repartitionByRange(target_files, "_h")
            .sortWithinPartitions("_h")
            .drop("_h")
        )
        return self._rewrite(snap, "OPTIMIZE", snap.files, ordered, data_change=False)

    def reorg_purge(self, spark: SparkSession) -> int:
        """REORG TABLE ... APPLY (PURGE): rewrite ONLY the files that
        carry a live deletion vector into clean files holding their
        surviving rows, leaving every DV-free file untouched. This is
        the third step of the merge-on-read lifecycle — DELETE writes
        the bitmap, PURGE materializes it, VACUUM reclaims the ``.bin``
        and the superseded data file. Logical table content is
        unchanged, so the commit is ``dataChange=false`` (CDC readers
        skip it, exactly like OPTIMIZE).

        Scale shape: cost is O(files-with-DVs), not O(table) — a 100 TB
        table where 0.1% of files accumulated DVs rewrites that 0.1%.
        The remove actions carry the purged DV descriptors so vacuum
        accounting sees the dead bitmaps. No-op (empty commit) when no
        live file carries a DV."""
        snap = self.snapshot()
        self._guard_writable(snap, data_change_removes=False)
        touched = [p for p in snap.files if _deleting_dv(snap.adds[p])]
        return self._rewrite(
            snap, "REORG", touched,
            self._live_rows(spark, snap, touched) if touched else None,
            data_change=False,
        )

    def vacuum(
        self, retention_ms: int | None = None, dry_run: bool = False
    ) -> list[str]:
        """Physically delete data files no longer referenced by the
        latest snapshot whose removal is older than the retention
        horizon. Never touches live files or the log itself.

        ``retention_ms=None`` reads the table's
        ``delta.deletedFileRetentionDuration`` property ("interval N
        days/hours/..." — delta-spark's spelling), defaulting to 7
        days. ``dry_run=True`` (VACUUM ... DRY RUN) returns the
        would-delete list without touching a file.

        Deletion-vector ``.bin`` files are reclaimed the same way
        (round 8): a DV file superseded by a re-delete (DV∪DV union
        re-adds the path with a NEW descriptor) is unreferenced by the
        latest snapshot and ages out by file mtime — without this,
        every delete_where_dv leaks its predecessor's bitmap file
        forever. Live descriptors (u-storage on live adds) are never
        touched. Change-data files (round 8) follow the same rule:
        referenced by a surviving commit → kept, orphaned by log expiry
        → mtime-aged."""
        snap = self.snapshot()
        # vacuumProtocolCheck: the FULL protocol (reader and writer
        # sides) must pass before any file is touched — an unsupported
        # feature could make the live-set computation wrong, and a
        # wrong live set here deletes data
        _check_protocol(snap.protocol)
        unsupported_wf = (
            set(snap.protocol.get("writerFeatures") or ())
            - _SUPPORTED_WRITER_FEATURES
        )
        if int(snap.protocol.get("minWriterVersion") or 2) > 6 and unsupported_wf:
            raise DeltaProtocolError(
                f"vacuum refused: unsupported writer features {sorted(unsupported_wf)}"
            )
        live = set(snap.files)
        if retention_ms is None:
            retention_ms = _parse_interval_ms(
                (snap.configuration or {}).get("delta.deletedFileRetentionDuration"),
                default_ms=7 * 24 * 3600 * 1000,
            )
        horizon = int(time.time() * 1000) - retention_ms
        deleted: list[str] = []
        removed_at: dict[str, int] = {}
        referenced_cdc: set[str] = set()
        for _v, actions in ((v, self.actions(v)) for v in self.json_versions()):
            for action in actions:
                r = action.get("remove")
                # absolute-path removes reference ANOTHER table's files
                # (shallow clone): dropping them from the clone is
                # metadata-only — vacuum must never delete outside its
                # own directory (spec CLONE semantics)
                if r and r["path"] not in live and not os.path.isabs(r["path"]):
                    removed_at[r["path"]] = int(r.get("deletionTimestamp") or 0)
                c = action.get("cdc")
                if c:
                    referenced_cdc.add(
                        os.path.normpath(os.path.join(self.path, c["path"]))
                    )
        for rel, ts in removed_at.items():
            if ts <= horizon:
                fp = os.path.join(self.path, rel)
                if self.fs.exists(fp):
                    if not dry_run:
                        self.fs.remove(fp)
                    deleted.append(rel)
        # unreferenced deletion-vector files (mtime-aged, like every
        # vacuum treats untracked files)
        from pulsar_io_delta_spark.sources.deletion_vectors import dv_relative_path

        live_dv = set()
        for p in snap.files:
            dv = snap.adds.get(p, {}).get("deletionVector")
            if dv and dv.get("storageType") == "u":
                live_dv.add(
                    os.path.normpath(
                        os.path.join(self.path, dv_relative_path(dv["pathOrInlineDv"]))
                    )
                )
        for fp in list(self.fs.walk_files(self.path)):
            name = os.path.basename(fp)
            if not (name.startswith("deletion_vector_") and name.endswith(".bin")):
                continue
            if os.path.normpath(fp) in live_dv:
                continue
            if self.fs.mtime_ms(fp) <= horizon:
                if not dry_run:
                    self.fs.remove(fp)
                deleted.append(os.path.relpath(fp, self.path))
        # change-data files: a cdc file referenced by a SURVIVING commit
        # stays (its feed is still readable via table_changes); orphans
        # from expired commits age out by mtime like any untracked file
        cd_root = os.path.join(self.path, "_change_data")
        if self.fs.exists(cd_root):
            for fp in list(self.fs.walk_files(cd_root)):
                if os.path.normpath(fp) in referenced_cdc:
                    continue
                if self.fs.mtime_ms(fp) <= horizon:
                    if not dry_run:
                        self.fs.remove(fp)
                    deleted.append(os.path.relpath(fp, self.path))
        return deleted

    def last_txn_version(self, app_id: str) -> int:
        if not (self.exists() and self.versions()):
            return -1
        return self.snapshot().txns.get(app_id, -1)


def delta_sink(table_path: str, app_id: str, partition_by: list[str] | None = None):
    """foreachBatch sink writing each micro-batch into the Delta log with
    an idempotent txn marker — exactly-once even across batch retries.
    Pair with ``writeStream.foreachBatch(delta_sink(...))`` and a
    checkpointLocation; together they replace the reference's
    per-partition state-store checkpoints."""

    def write_batch(df: DataFrame, batch_id: int) -> None:
        DeltaTable(table_path).write(df, mode="append", partition_by=partition_by, txn=(app_id, batch_id))

    return write_batch
