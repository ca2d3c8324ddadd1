"""Snapshot scans: plain parquet fast path + merge-on-read key collapse.

Reference parity: catalog/StarLakeScanBuilder.scala:99-158 chooses one
of four physical scans; the decision collapses to two DataFrame recipes
here (SURVEY §2.1):

* **plain scan** — partition has a single committed file-version (all
  base, or exactly one commit): read the parquet files directly. This
  keeps the whole Catalyst fast path: parquet filter pushdown, column
  pruning, partition pruning, whole-stage codegen.
* **MoR scan** — partition carries delta files from several commits:
  union the per-commit file groups with their commit version attached,
  then collapse per primary key with ``groupBy(range+hash keys)`` where
  each column takes its value from the highest version whose files
  physically contain the column (``file_exist_cols`` semantics of
  MergeParquetScan.scala:128-138,246-255), explicit nulls included —
  via ``max_by`` over a per-group constant version column, or a merge
  operator (starlake_spark.merge_ops) instead of last-wins.

Both recipes read every commit group through ONE parquet relation when
the groups are schema-homogeneous (``_flat_read_plan``); each row's
commit version and range values are per-file constants, served by one
probe per row into a literal map built at plan time (``_flat_probe``).
Other histories take a union of per-commit reads.

The reference does the same collapse with a per-bucket k-way heap merge
(v2/merge/parquet/MergeHeap.java, MergeMultiFileWithOperator.scala:35-196)
because its files are bucket-sorted; Spark's hash aggregate gives the
identical result order-insensitively, spills natively, and is split
across executors by AQE. A merge whose files all sit in one bucket and
fit one read split — a point lookup — runs as the reference's one task
per bucket instead: one partition, no Exchange (``_one_task_merge``).
Partitions that need no merge are unioned in via the plain path so
compacted data never pays the shuffle.

Scale note: the MoR groupBy shuffles only the *un-compacted* partitions'
bytes on the hash keys. Regular compaction (CompactionCommand analogue)
keeps that fraction small; the reference relies on the same discipline
(delta_file_num trigger = 5, StarLakeSQLConf.scala:41-45).
"""

from __future__ import annotations

import datetime
import decimal
import functools
import json
import logging
import os
import re
from collections import defaultdict
from types import MappingProxyType

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from starlake_spark import merge_ops as mo
from starlake_spark.operators import predicate as P
from starlake_spark.local import local_df
from starlake_spark.meta import (
    DataFileInfo,
    ManifestStore,
    Snapshot,
    TableInfo,
    decode_range_value,
)

_log = logging.getLogger(__name__)

_WV = "_star_wv"
_ORD = "_star_ord_"  # per-column merge ordering prefix
# physical flag column in tombstone delta files (delta DELETE path):
# collapses last-wins per key, true ⇒ the key is filtered from the scan
TOMBSTONE_COL = "_star_tombstone"


def _schema(info: TableInfo) -> T.StructType:
    return T.StructType.fromJson(json.loads(info.schema_json))


@functools.lru_cache(maxsize=64)
def _schema_types(schema_json: str) -> MappingProxyType:
    return MappingProxyType({
        f.name: f.dataType
        for f in T.StructType.fromJson(json.loads(schema_json)).fields})


def _types(info: TableInfo) -> MappingProxyType:
    """Read-only {column: DataType} of the table schema, parsed once per
    schema: every pruner of a scan asks for it."""
    return _schema_types(info.schema_json)


def alias_map(info: TableInfo) -> dict[str, list[str]]:
    """Historical physical names per logical column (RENAME COLUMN
    name-mapping, the Delta column-mapping 'name mode' analog): the
    table property ``aliases.<logical-lower>`` lists the names a
    column's bytes were written under before the rename(s). Readers
    resolve per FILE GROUP — a group physically carrying an alias
    serves it under the current logical name; groups written after the
    rename carry the logical name directly. Empty for tables that
    never renamed (the common case costs one dict probe)."""
    out: dict[str, list[str]] = {}
    for k, v in (info.configuration or {}).items():
        if k.startswith("aliases."):
            out[k[len("aliases."):]] = [a for a in v.split(",") if a]
    return out


def _resolve_physical(name: str, present, amap: dict[str, list[str]]):
    """The physical column serving logical ``name`` in a file group
    with columns/exist-cols ``present``, or None.

    Precedence: exact match → rename-alias map → case-insensitive
    fallback. The alias map outranks the case-insensitive probe: an
    adopted file may carry a physical column that case-collides with a
    logical name whose bytes actually live under a rename alias —
    picking the case-collider would serve the wrong column's data.
    An ambiguous case-insensitive match (two physical columns differing
    only in case, neither exact nor aliased) raises instead of silently
    picking whichever iterates first."""
    if name in present:
        return name
    low = name.lower()
    for a in amap.get(low, ()):
        if a in present:
            return a
    # case-insensitive direct match (CaseSensitivitySuite: resolution
    # is case-insensitive, files keep their original casing) — a file
    # whose physical casing diverged from the declared name must still
    # serve the column, not silently null-backfill
    cands = [p for p in present if p.lower() == low]
    if len(cands) > 1:
        raise ValueError(
            f"ambiguous case-insensitive resolution for column '{name}': "
            f"file carries {sorted(cands)}; rename one or declare an "
            f"alias (aliases.{low})")
    return cands[0] if cands else None


def _empty_df(spark: SparkSession, info: TableInfo) -> DataFrame:
    return local_df(spark, [], _schema(info))


def _group_files(files: list[DataFileInfo]) -> dict[tuple[int, str], list[DataFileInfo]]:
    """Group by (write_version, commit data dir) — one group per commit.
    Writer-produced paths look like data/<commit_id>/[range dirs/]part-
    *.parquet; ADOPTED files (convert_to_star) live outside data/ and
    group under the table root, whose hive dirs (if any) recover the
    range columns via basePath exactly like a commit dir's do."""
    groups: dict[tuple[int, str], list[DataFileInfo]] = defaultdict(list)
    for f in files:
        parts = f.path.split(os.sep)
        if os.path.isabs(f.path):
            # shallow-clone reference into the SOURCE table: group by
            # the source commit dir (last .../data/<commit>/ segment)
            # so hive range dirs under it resolve against basePath
            data_idx = [i for i, p in enumerate(parts[:-1]) if p == "data"]
            if data_idx and data_idx[-1] + 1 < len(parts) - 0:
                commit_dir = os.sep.join(parts[:data_idx[-1] + 2])
            else:
                commit_dir = os.path.dirname(f.path)
        elif parts[0] == "data" and len(parts) > 2:
            commit_dir = os.sep.join(parts[:2])
        else:
            commit_dir = ""  # adopted/loose file: table root is the base
        groups[(f.write_version, commit_dir)].append(f)
    return groups


# Committed commit groups are IMMUTABLE, so their inferred parquet
# schema is too: cache it keyed by (table id, commit dir, file set) and
# pass it explicitly on repeat reads. Plan-time footer schema inference
# costs ~100 ms of py4j + footer I/O per group per scan — on a table
# with N delta groups every MoR plan construction paid N inferences,
# the dominant fixed cost of DML/CDC entries (profiled: one scan's
# CONSTRUCTION was 2-3× its execution). Bounded LRU-ish; entries are
# tiny StructTypes.
_GROUP_SCHEMA_CACHE: dict[tuple, "T.StructType"] = {}
_GROUP_SCHEMA_CACHE_MAX = 4096


# Flat-scan gate: physical parquet schema per file, mapped to Spark
# types (driver-side pyarrow footer read, ~ms on local disk — the same
# footer the writer already stat-harvested). Cached forever: committed
# files are immutable. None ⇒ the file's schema has no clean Spark
# mapping (fall back to per-group reads).
_FILE_SCHEMA_CACHE: dict[str, "T.StructType | None"] = {}
_FILE_SCHEMA_CACHE_MAX = 65536
# Spark's own StructType JSON of the columns it wrote, in every footer
# of a file Spark produced (ParquetWriteSupport.SPARK_METADATA_KEY)
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _naive_ts_leaves(t) -> int:
    """tz-naive timestamp leaves of one arrow type."""
    import pyarrow as pa

    if pa.types.is_timestamp(t):
        return int(t.tz is None)
    if pa.types.is_struct(t):
        return sum(_naive_ts_leaves(t.field(i).type)
                   for i in range(t.num_fields))
    if pa.types.is_map(t):
        return _naive_ts_leaves(t.key_type) + _naive_ts_leaves(t.item_type)
    if pa.types.is_list(t) or pa.types.is_large_list(t) \
            or pa.types.is_fixed_size_list(t):
        return _naive_ts_leaves(t.value_type)
    return 0


def _file_spark_schema(abs_path: str) -> "T.StructType | None":
    """The Spark types of one file's physical columns, exactly as
    Spark's scan would infer them: Spark's own row metadata when the
    footer carries it for these very columns, else the arrow mapping
    with Spark's ``ParquetToSparkSchemaConverter`` rules — a tz-naive
    timestamp is ``timestamp_ntz`` (isAdjustedToUTC=false), except a
    physical INT96 one, which is ``timestamp`` (Spark's default
    TimestampType encoding; pyarrow reads it tz-naive)."""
    if abs_path in _FILE_SCHEMA_CACHE:
        return _FILE_SCHEMA_CACHE[abs_path]
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    out: "T.StructType | None" = None
    try:
        pf = pq.ParquetFile(abs_path)
        pa_schema = pf.schema_arrow
        meta = (pa_schema.metadata or {}).get(_SPARK_ROW_METADATA)
        spark_schema = None
        if meta:
            try:
                spark_schema = T.StructType.fromJson(json.loads(meta))
            except (ValueError, KeyError):
                pass  # a type PySpark cannot name (a Scala-only UDT)
        if spark_schema is not None and \
                spark_schema.names == pa_schema.names:
            out = T.StructType([T.StructField(f.name, f.dataType, True)
                                for f in spark_schema.fields])
        else:
            leaves = pf.schema
            int96 = sum(leaves.column(j).physical_type == "INT96"
                        for j in range(len(leaves)))
            # a file mixing INT96 and tz-naive INT64 timestamps has no
            # single arrow mapping that types both: left None
            if int96 in (0, sum(_naive_ts_leaves(f.type)
                                for f in pa_schema)):
                out = T.StructType([
                    T.StructField(f.name,
                                  from_arrow_type(
                                      f.type,
                                      prefer_timestamp_ntz=not int96),
                                  True)
                    for f in pa_schema])
    except (OSError, ValueError, TypeError, NotImplementedError):
        # unreadable footer (OSError; pyarrow's ArrowInvalid is a
        # ValueError) or a type with no Spark mapping (PySparkTypeError
        # is a TypeError, ArrowNotImplementedError a
        # NotImplementedError): per-group reads serve the file.
        # Anything else is a bug and propagates.
        out = None
    if len(_FILE_SCHEMA_CACHE) >= _FILE_SCHEMA_CACHE_MAX:
        _FILE_SCHEMA_CACHE.pop(next(iter(_FILE_SCHEMA_CACHE)))
    _FILE_SCHEMA_CACHE[abs_path] = out
    return out


# Probe keys of the flat scan's per-file constants (``_flat_probe``):
# the last ``1 + len(range_cols)`` dir segments of a file as
# `_metadata.file_path` renders them — the URI form of a Hadoop Path
# (space → %20, '%' → %25, non-ASCII literal). A suffix carries no
# scheme, so 'file:/', 'file:///' and 's3a://b' renderings probe the
# same key. ``_URI_SAFE`` segments read the same in both forms; any
# other dir is encoded once through Hadoop's own Path (cached:
# committed dirs are immutable), never by re-implementing URI quoting.
_URI_SAFE = re.compile(r"^[A-Za-z0-9._=-]+$")
_PCT = re.compile(r"%([0-9A-Fa-f]{2})")
_DIR_URI_CACHE: dict[str, str] = {}
_DIR_URI_CACHE_MAX = 65536


def _unescape_path(s: str) -> str:
    """Driver-side inverse of the writer's hive dir-name escaping
    (plain %XX only — no '+' handling)."""
    return _PCT.sub(lambda m: chr(int(m.group(1), 16)), s)


def _dir_key(abs_dir: str, levels: int) -> str:
    """Probe key of the files directly under ``abs_dir``: its last
    ``levels`` segments in `_metadata.file_path`'s URI form."""
    segs = abs_dir.split("/")[-levels:]
    if all(_URI_SAFE.match(s) for s in segs):
        return "/".join(segs)
    raw = _DIR_URI_CACHE.get(abs_dir)
    if raw is None:
        from pyspark import SparkContext

        raw = SparkContext._jvm.org.apache.hadoop.fs.Path(
            abs_dir).toUri().getRawPath()
        if len(_DIR_URI_CACHE) >= _DIR_URI_CACHE_MAX:
            _DIR_URI_CACHE.pop(next(iter(_DIR_URI_CACHE)))
        _DIR_URI_CACHE[abs_dir] = raw
    return "/".join(raw.split("/")[-levels:])


def _path_key_col(path: "F.Column", levels: int) -> "F.Column":
    """Per-row probe key: the last ``levels`` directory segments of a
    file path — substring arithmetic, no regex, no decoding."""
    return F.substring_index(F.substring_index(path, "/", -(levels + 1)),
                             "/", levels)


def _flat_read_plan(store: ManifestStore, info: TableInfo, groups: dict,
                    per_row_cost: bool = True,
                    ) -> "tuple[T.StructType, dict, bool, dict] | None":
    """Gate + inputs for the single-read scan of every commit group at
    once (optimization round 10): returns ``(read_schema, dir_map,
    any_tomb, absent)`` when ALL groups can be served by ONE parquet
    relation with an explicit schema — every declared column present
    under its declared name and exact physical type in every group (no
    renames, no type widening, no nested evolution, no extra live
    columns), and every group's files mapping to one distinct version.
    The tombstone flag column may appear in any subset of groups (the
    reader backfills null ⇒ not tombstoned); ``absent`` maps a column
    to the versions whose files lack it (partial-column commits). None
    ⇒ caller takes the per-group union path, which handles every
    evolution case. ``STARLAKE_FLAT_SCAN=off`` disables the fast path.

    ``dir_map`` holds the per-file constants ``_flat_probe`` serves:
    ``_dir_key`` of each (commit, partition) dir → (commit version,
    range values as the manifest records them, None for the hive
    default partition) — exact whatever the values' escaping. The
    returned ``read_schema`` covers only the PHYSICAL columns. Refused:
    a file not under the hive dirs its range_value declares (a ',' in a
    value, the range_value separator, shows as an extra segment), and
    two dirs sharing a probe key.

    Scale note: this is the plan-size lever for MoR reads — the union
    path plans O(commit groups) parquet relations per scan while this
    plans exactly one, so plan analysis, py4j chatter and codegen stay
    O(1) as a partition's delta history grows.
    """
    def refuse(reason: str) -> None:
        _log.debug("flat scan refused for %s: %s", store.table_path, reason)

    if os.environ.get("STARLAKE_FLAT_SCAN") == "off":
        return refuse("STARLAKE_FLAT_SCAN=off")
    if per_row_cost or info.range_cols:
        # The flat relation probes its per-file constants PER ROW and
        # merges through one relation, while the union path gets them
        # as per-branch literals / partition metadata. Cost model
        # (measured): union ≈ groups × plan cost (~0.1-0.3 s each),
        # flat overhead ≈ rows × ~0.7 CPU-s/M (3M-row hash-only table,
        # 2 commits, 4 cores: flat 7.1 vs union 5.0 CPU-s; 2.8 CPU-s/M
        # back when each row parsed its path). So the flat path engages
        # for delta-shaped histories (small average group — refresh
        # windows, CDC boundaries, commit storms) and for DEEP
        # histories (where union's plan size is the cliff the fast path
        # exists to remove), but hands row-heavy shallow scans back to
        # the union path.
        avg_cap = int(os.environ.get("STARLAKE_FLAT_SCAN_AVG_GROUP_BYTES",
                                     str(8 << 20)))
        deep = int(os.environ.get("STARLAKE_FLAT_SCAN_DEEP_GROUPS", "24"))
        total = sum(f.size for fs in groups.values() for f in fs)
        if len(groups) < deep and total > avg_cap * len(groups):
            return refuse(f"{len(groups)} groups of {total} B: "
                          f"row-heavy and shallow")
    schema = _schema(info)
    declared = {f.name: f.dataType for f in schema.fields}
    expected = set(declared) - set(info.range_cols)
    keys = set(info.range_cols) | set(info.hash_cols)
    levels = 1 + len(info.range_cols)
    any_tomb = False
    dir_map: dict[str, tuple] = {}
    key_dir: dict[str, str] = {}
    seen_wv: set[int] = set()
    absent: dict[str, set] = {}
    for (wv, _cdir), fs in groups.items():
        exist = set(fs[0].exist_cols)
        has_tomb = TOMBSTONE_COL in exist
        any_tomb |= has_tomb
        present = exist - {TOMBSTONE_COL}
        if not (present <= expected):
            # renamed / dropped / extra live column
            return refuse(f"undeclared column(s) "
                          f"{sorted(present - expected)} in v{wv}")
        if not (keys - set(info.range_cols) <= present):
            return refuse(f"merge key(s) missing in v{wv}")
        for c in expected - present:
            # partial-column commit (round 11): the column reads as
            # NULL from this group's files via the explicit schema;
            # the merge path nulls its ORDERING on these versions so
            # "absent = keep existing" survives (exactly the union
            # path's per-branch null-ordering literal)
            absent.setdefault(c, set()).add(wv)
        if wv in seen_wv:
            # equal-version groups: keep union-path order
            return refuse(f"two commit groups at v{wv}")
        seen_wv.add(wv)
        for f in fs:
            fd = os.path.dirname(f.path if os.path.isabs(f.path) else
                                 os.path.join(store.table_path, f.path))
            vals = []
            if info.range_cols:
                # every file must sit under exactly the hive dirs its
                # manifest range_value declares (dir segments unescape
                # to the raw values)
                segs = f.range_value.split(",") if f.range_value else []
                parts = fd.split("/")
                if len(segs) != len(info.range_cols) or \
                        len(parts) <= len(segs):
                    return refuse(f"range value {f.range_value!r} "
                                  f"does not match the range columns")
                for c, seg, dseg in zip(info.range_cols, segs,
                                        parts[-len(segs):]):
                    name, eq, val = seg.partition("=")
                    dname, deq, dval = dseg.partition("=")
                    if (name != c or dname != c or not eq or not deq
                            or _unescape_path(dval) != val):
                        return refuse(f"file dir {dseg!r} is not "
                                      f"range value {seg!r}")
                    vals.append(None if val == "__HIVE_DEFAULT_PARTITION__"
                                else val)
            k, consts = _dir_key(fd, levels), (wv, tuple(vals))
            if key_dir.setdefault(k, fd) != fd:
                return refuse(f"two dirs share probe key {k!r}")
            if dir_map.setdefault(k, consts) != consts:
                return refuse(f"dir {k!r} maps to two versions")
        first = fs[0].path
        first_abs = first if os.path.isabs(first) else \
            os.path.join(store.table_path, first)
        ps = _file_spark_schema(first_abs)
        if ps is None:
            return refuse(f"no Spark type mapping for {first}")
        have = {f.name: f.dataType for f in ps.fields}
        for n, dt in declared.items():
            if n in info.range_cols or n not in present:
                continue  # probed per file / null-backfilled
            h = have.get(n)
            if h is None or h.simpleString() != dt.simpleString():
                return refuse(f"type {n}: "
                              f"{h.simpleString() if h else 'absent'} "
                              f"!= {dt.simpleString()} in v{wv}")
        if has_tomb and not isinstance(have.get(TOMBSTONE_COL),
                                       (T.BooleanType, type(None))):
            return refuse(f"tombstone column is not boolean in v{wv}")
    fields = [T.StructField(f.name, f.dataType, True, f.metadata)
              for f in schema.fields if f.name not in info.range_cols]
    if any_tomb:
        fields.append(T.StructField(TOMBSTONE_COL, T.BooleanType(), True))
    return T.StructType(fields), dir_map, any_tomb, absent


def _sql_str(s: str) -> str:
    # hex bytes: exact whatever the parser's escape settings
    return f"CAST(X'{s.encode().hex()}' AS STRING)"


def _flat_probe(info: TableInfo, dir_map: dict) -> "F.Column":
    """A flat scan's per-file constants as ONE map probe per row: a
    struct of the commit version plus each range value cast to its
    declared type (the cast an explicit read schema would apply to the
    dir value), fields ``col1..colN`` in that order. The literal map is
    one SQL expression — a single py4j call however many dirs it holds.
    A file whose dir is missing from the map fails the query instead of
    reading as a NULL version."""
    declared = {f.name: f.dataType for f in _schema(info).fields}
    types = [declared[c].simpleString() for c in info.range_cols]
    entries = []
    for k, (wv, vals) in dir_map.items():
        fields = [f"{int(wv)}L"] + [
            f"CAST({'NULL' if v is None else _sql_str(v)} AS {t})"
            for v, t in zip(vals, types)]
        entries.append(f"{_sql_str(k)}, struct({', '.join(fields)})")
    path = F.col("_metadata.file_path")
    return F.coalesce(
        F.element_at(F.expr(f"map({', '.join(entries)})"),
                     _path_key_col(path, 1 + len(info.range_cols))),
        F.raise_error(F.concat(
            F.lit("flat scan: no commit dir mapped for "), path)))


def _flat_relation(spark: SparkSession, store: ManifestStore,
                   info: TableInfo, files: list[DataFileInfo],
                   read_schema: "T.StructType", dir_map: dict,
                   probe: bool = True) -> DataFrame:
    """The single parquet relation of a flat scan, plus (``probe``) its
    per-file constants as top-level ``_star_wv`` and range columns.
    Range layouts read with ``recursiveFileLookup`` so Spark skips
    partition discovery entirely."""
    reader = spark.read.schema(read_schema)
    if info.range_cols:
        reader = reader.option("recursiveFileLookup", "true")
    u = reader.parquet(*[f.path if os.path.isabs(f.path)
                         else os.path.join(store.table_path, f.path)
                         for f in files])
    if not probe:
        return u
    # one field access per constant; whole-stage codegen evaluates the
    # shared probe once per row (subexpression elimination)
    pf = _flat_probe(info, dir_map)
    return u.select("*", *[pf.getField(f"col{i}").alias(n) for i, n
                           in enumerate([_WV, *info.range_cols], 1)])


def _nested_evolves(have: "T.DataType", want: "T.DataType") -> bool:
    """True iff ``want`` equals ``have`` plus ADDED nested struct fields
    — the shape ALTER ADD COLUMNS into complex types produces
    (AlterTableTests.scala:114-313). Such a type cannot be ``cast``
    (Spark refuses struct casts of differing arity) but CAN be
    requested directly from the parquet reader, which backfills the
    missing nested fields with null natively."""
    if isinstance(have, T.StructType) and isinstance(want, T.StructType):
        w = {f.name.lower(): f.dataType for f in want.fields}
        return all(f.name.lower() in w
                   and _nested_evolves(f.dataType, w[f.name.lower()])
                   for f in have.fields)
    if isinstance(have, T.ArrayType) and isinstance(want, T.ArrayType):
        return _nested_evolves(have.elementType, want.elementType)
    if isinstance(have, T.MapType) and isinstance(want, T.MapType):
        return (_nested_evolves(have.keyType, want.keyType)
                and _nested_evolves(have.valueType, want.valueType))
    return have.simpleString() == want.simpleString()


def _read_group(
    spark: SparkSession,
    store: ManifestStore,
    info: TableInfo,
    commit_dir: str,
    files: list[DataFileInfo],
    with_rowid: bool = False,
) -> DataFrame:
    """Read one commit's files. basePath recovers range partition columns
    from the hive-style directory layout.

    ``with_rowid`` appends the deletion-vector identity columns —
    ``_star_fid`` (the file's scheme-stripped absolute path) and
    ``_star_pos`` (``_metadata.row_index``, the file-stable physical
    row position) — used both to APPLY deletion vectors (anti-join)
    and to RECORD them (DV delete's position capture reads through
    this same path, so build and probe can never disagree on
    identity)."""
    base = os.path.join(store.table_path, commit_dir)
    paths = [os.path.join(store.table_path, f.path) for f in files]
    reader = spark.read
    if info.range_cols:
        reader = reader.option("basePath", base)
    cache_key = (info.table_id, store.table_path, commit_dir,
                 bool(info.range_cols),
                 tuple(sorted(f.path for f in files)))
    file_schema = _GROUP_SCHEMA_CACHE.get(cache_key)
    if file_schema is not None:
        df = reader.schema(file_schema).parquet(*paths)
    else:
        df = reader.parquet(*paths)
        file_schema = df.schema
        if len(_GROUP_SCHEMA_CACHE) >= _GROUP_SCHEMA_CACHE_MAX:
            _GROUP_SCHEMA_CACHE.pop(next(iter(_GROUP_SCHEMA_CACHE)))
        _GROUP_SCHEMA_CACHE[cache_key] = file_schema
    # Align to declared types (partition-dir values are type-inferred);
    # renamed columns resolve their file-local physical name via the
    # alias map (zero cost when the table never renamed).
    schema = _schema(info)
    declared = {f.name: f.dataType for f in schema.fields}
    # Nested schema evolution: columns whose declared type ADDS nested
    # struct fields over the file's type are re-requested at the
    # declared type — the parquet reader backfills the new nested
    # fields with null (a cast would throw: struct arity differs).
    # Case-INSENSITIVE match, like merge/alias/fast-path: a file whose
    # struct column differs only in case from the declared name must
    # still take the parquet-level backfill, not the cast path.
    declared_ci = {f.name.lower(): f.dataType for f in schema.fields}
    adj, nested_evo = [], False
    for f in file_schema.fields:
        want = declared_ci.get(f.name.lower())
        if want is not None \
                and f.dataType.simpleString() != want.simpleString() \
                and isinstance(f.dataType,
                               (T.StructType, T.ArrayType, T.MapType)) \
                and _nested_evolves(f.dataType, want):
            adj.append(T.StructField(f.name, want, True, f.metadata))
            nested_evo = True
        else:
            adj.append(f)
    if nested_evo:
        file_schema = T.StructType(adj)
        df = reader.schema(file_schema).parquet(*paths)
    # Fast path: the group's physical schema already carries every
    # declared column under its declared name and type (no rename, no
    # evolution gap, no tombstones, no rowid request) — a bare column
    # reorder instead of len(schema) cast/alias Column constructions
    # (each ~3 py4j round-trips; this chatter is plan-construction
    # fixed cost on every scan of every group).
    if not with_rowid and TOMBSTONE_COL not in file_schema.fieldNames():
        have = {f.name: f.dataType for f in file_schema.fields}
        if all(have.get(n) is not None
               and have[n].simpleString() == t.simpleString()
               for n, t in declared.items()):
            return df.select(*[f.name for f in schema.fields])
    amap = alias_map(info)
    present = set(df.columns)
    cols = []
    for name in [f.name for f in schema.fields]:
        phys = _resolve_physical(name, present, amap)
        if phys is not None:
            have_t = next((f.dataType for f in file_schema.fields
                           if f.name == phys), None)
            if have_t is not None and \
                    have_t.simpleString() == declared[name].simpleString():
                # types match up to nullability: no cast. (Casting also
                # BREAKS nested nullability narrowing — parquet reads
                # arrays as containsNull=true, and Spark refuses
                # array<t, true> → array<t, false> even when declared
                # that way, e.g. a materialized collect_list column.)
                col = F.col(phys)
            else:
                col = F.col(phys).cast(declared[name])
            cols.append(col.alias(name))
        else:
            cols.append(F.lit(None).cast(declared[name]).alias(name))
    if TOMBSTONE_COL in df.columns:
        cols.append(F.col(TOMBSTONE_COL).cast("boolean").alias(TOMBSTONE_COL))
    if with_rowid:
        # scheme-stripped ABSOLUTE path: hive-partitioned writes reuse
        # one basename across partition dirs (part-00000-<job-uuid> in
        # every dir task 0 wrote), so only the full path is unique
        cols.append(F.regexp_replace(
            F.col("_metadata.file_path"), "^file:/+", "/").alias(DV_FID))
        cols.append(F.col("_metadata.row_index").alias(DV_POS))
    return df.select(*cols)


# deletion-vector identity columns (sidecar schema AND scan-side names)
DV_FID = "_star_fid"
DV_POS = "_star_pos"


def _apply_dvs(spark: SparkSession, store: ManifestStore,
               out: DataFrame, dv_infos: list[DataFileInfo],
               keep_rowid: bool = False) -> DataFrame:
    """Anti-join the scan against its partitions' deletion vectors.
    DVs are tiny relative to the data (positions only) — broadcast
    below the session threshold so the anti-join is a map-side probe,
    never a full shuffle of the fact scan."""
    paths = [p if os.path.isabs(p) else os.path.join(store.table_path, p)
             for p in (d.path for d in dv_infos)]
    dv = spark.read.parquet(*paths).select(DV_FID, DV_POS)
    thr = _conf_bytes(spark, "spark.sql.autoBroadcastJoinThreshold")
    if 0 < sum(d.size for d in dv_infos) <= max(thr, 64 << 20):
        dv = F.broadcast(dv)
    out = out.join(dv, [DV_FID, DV_POS], "left_anti")
    return out if keep_rowid else out.drop(DV_FID, DV_POS)


def _plain_scan(
    spark: SparkSession,
    store: ManifestStore,
    info: TableInfo,
    files: list[DataFileInfo],
    dv_infos: list[DataFileInfo] | None = None,
    with_rowid: bool = False,
) -> DataFrame:
    need_id = bool(dv_infos) or with_rowid
    groups = _group_files(files)
    if not need_id and len(groups) > 1:
        # one parquet relation for every commit group (gate:
        # _flat_read_plan) — no version attribution needed here, each
        # partition holds a single final version, so the only fast-path
        # extra is refusing tombstone files (single-version tombstone
        # groups must keep the union path's column surface). Hash-only
        # plain scans carry zero per-row work, so only the range-column
        # probe gates on size.
        flat = _flat_read_plan(store, info, groups, per_row_cost=False)
        if flat is not None and flat[2]:
            _log.debug("flat scan refused for %s: tombstone files in a "
                       "plain scan", store.table_path)
        elif flat is not None:
            u = _flat_relation(spark, store, info, files, flat[0], flat[1],
                               probe=bool(info.range_cols))
            return u.select(*[F.col(f.name) for f in _schema(info).fields])
    dfs = [
        _read_group(spark, store, info, cdir, fs, with_rowid=need_id)
        for (_wv, cdir), fs in groups.items()
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    if dv_infos:
        out = _apply_dvs(spark, store, out, dv_infos, keep_rowid=with_rowid)
    return out


def _one_task_merge(spark: SparkSession, files: list[DataFileInfo]) -> bool:
    """True when a MoR merge can run as ONE task with no shuffle — the
    reference's per-bucket merge: every file in the same bucket (no key
    crosses buckets) and, together, no larger than one read split
    (``spark.sql.files.maxPartitionBytes``)."""
    buckets = {f.bucket_id for f in files}
    return (len(buckets) == 1 and min(buckets) >= 0
            and sum(f.size for f in files)
            <= _conf_bytes(spark, "spark.sql.files.maxPartitionBytes"))


def _merge_scan(
    spark: SparkSession,
    store: ManifestStore,
    info: TableInfo,
    files: list[DataFileInfo],
    merge_operators: dict[str, mo.MergeOperator],
) -> DataFrame:
    schema = _schema(info)
    keys = info.range_cols + info.hash_cols
    data_cols = [f for f in schema.fields if f.name not in keys]
    # a single-bucket merge that fits one split reads as one partition:
    # the keyed aggregate then needs no Exchange (one job, one task)
    one_task = _one_task_merge(spark, files)

    def _collapse(u: DataFrame, ordc, tomb: bool) -> DataFrame:
        """Collapse ``u`` per key: each data column from its highest
        ``ordc(column)`` version (a NULL ordering skips that row), or
        its merge operator over every version; liveness last-wins on
        the commit version."""
        aggs = []
        for f in data_cols:
            o = ordc(f.name)
            op = merge_operators.get(f.name)
            if op is None:
                aggs.append(F.max_by(F.col(f.name), o).alias(f.name))
            else:
                versions = F.sort_array(F.collect_list(F.when(
                    o.isNotNull(),
                    F.struct(o.alias("v"), F.col(f.name).alias("x")))))
                aggs.append(op.column(versions, f.dataType)
                            .cast(f.dataType).alias(f.name))
        if tomb:
            aggs.append(F.max_by(F.coalesce(F.col(TOMBSTONE_COL),
                                            F.lit(False)), F.col(_WV))
                        .alias(TOMBSTONE_COL))
        if one_task:
            u = u.coalesce(1)
        if aggs:
            merged = u.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
        else:
            merged = u.select(*keys).distinct()  # key-only table
        if tomb:
            merged = merged.filter(~F.col(TOMBSTONE_COL))
        return merged.select(*[F.col(f.name) for f in schema.fields])

    groups = _group_files(files)
    flat = _flat_read_plan(store, info, groups)
    if flat is not None:
        # Single-relation MoR collapse: every group's columns exist at
        # that group's version (uniform exist_cols — checked by the
        # gate), so the per-column ordering literal degenerates to the
        # file's commit version and the whole union collapses into ONE
        # parquet scan + per-file constants + the same keyed aggregation.
        read_schema, dir_map, f_tomb, absent = flat
        u = _flat_relation(spark, store, info, files, read_schema, dir_map)

        def _ord(col_name):
            # per-column ordering: NULL on commits where the column is
            # absent — the single-relation equivalent of the union
            # path's per-branch null-ordering literal
            miss = absent.get(col_name)
            if not miss:
                return F.col(_WV)
            return F.when(~F.col(_WV).isin(*[int(v) for v in miss]),
                          F.col(_WV))

        return _collapse(u, _ord, f_tomb)
    branches = []
    amap = alias_map(info)
    any_tomb = any(TOMBSTONE_COL in fs[0].exist_cols for fs in groups.values())
    for (wv, cdir), fs in groups.items():
        exist = set(fs[0].exist_cols)
        d = _read_group(spark, store, info, cdir, fs)
        # Per-column ordering: the commit version if this commit's files
        # contain the column (under its current or a pre-rename name),
        # else null (so max_by / collect skip it). These are constant
        # per branch — pure codegen literals. One select, not a
        # withColumn per column: each withColumn is a py4j round trip
        # and an analyzer pass, which at ~10 data columns dominates
        # plan-build latency.
        extra = [F.lit(wv).cast("long").alias(_WV)]
        for f in data_cols:
            ordv = (F.lit(wv).cast("long")
                    if _resolve_physical(f.name, exist, amap) is not None
                    else F.lit(None).cast("long"))
            extra.append(ordv.alias(_ORD + f.name))
        has_tomb = TOMBSTONE_COL in d.columns
        if any_tomb and not has_tomb:
            # every branch asserts an opinion on liveness: tombstone
            # files carry the physical flag (true), everything else
            # injects a literal false — last version wins below, so a
            # later upsert resurrects a deleted key (with nulls for
            # columns the tombstone blanked, the insert-after-delete
            # semantics)
            extra.append(F.lit(False).alias(TOMBSTONE_COL))
        keep = [c for c in d.columns
                if any_tomb or c != TOMBSTONE_COL]
        branches.append(d.select(*keep, *extra))

    u = branches[0]
    for b in branches[1:]:
        u = u.unionByName(b)
    return _collapse(u, lambda c: F.col(_ORD + c), any_tomb)


def _try_prune_partitions_python(info, rows: list[dict],
                                 pred: P.Pred) -> list[dict] | None:
    """Pure-Python partition-predicate evaluation, or None to use the
    Spark path. UNLIKE stats skipping this result is exactness-
    critical (replaceWhere expires exactly the matching partitions),
    so the WHOLE predicate must be atoms on range columns whose
    literals have an exact value — a left-over conjunct (OR, NOT,
    function call, ...) bails instead of approximating."""
    if not pred.complete or any(a.col not in info.range_cols
                                for a in pred.atoms):
        return None
    match = P.partition_matcher(pred.atoms, _types(info))
    return None if match is None else [r for r in rows if match(r)]


def _prune_partitions_sql(spark, info, range_values: list[str],
                          pred: P.Pred) -> list[dict]:
    """Evaluate a parsed predicate over the partition values (as a tiny
    DataFrame, cast to the table's range-column types, filtered by the
    SQL the atoms render) and return the decoded dicts of matching
    partitions. The Python fast path above answers first when the whole
    predicate is exactly evaluable in-process — partition pruning then
    costs zero Spark jobs."""
    range_cols = info.range_cols
    types = _types(info)
    rows = [decode_range_value(rv) for rv in range_values]
    if not rows:
        return []
    fast = _try_prune_partitions_python(info, rows, pred)
    if fast is not None:
        return fast
    # rows come back by index: str() of a cast value is not the
    # directory string for booleans ('True') or decimals ('10.50')
    pdf = local_df(spark,
        [[i] + [r.get(c) for c in range_cols] for i, r in enumerate(rows)],
        T.StructType([T.StructField("_star_idx", T.IntegerType())]
                     + [T.StructField(c, T.StringType()) for c in range_cols]),
    )
    for c in range_cols:
        pdf = pdf.withColumn(c, F.col(c).cast(types.get(c, T.StringType())))
    keep = {r[0] for r in pdf.filter(F.expr(pred.sql()))
            .select("_star_idx").collect()}
    return [r for i, r in enumerate(rows) if i in keep]


def _generated_translator(gexpr: str):
    """(source_col, fold: Lit → Lit | None) for a MONOTONE generated-
    column expression, else None. Every supported form is a
    floor/prefix function of its input, so ``src >= L`` implies
    ``g >= f(L)`` — Delta's generated-column partition-pruning rule
    across the common time-partitioning layouts. date_format patterns
    qualify only when chronological prefixes of ISO order (yyyy,
    yyyy-MM, ...); month()/day() alone are cyclic, NOT monotone, and
    deliberately absent. ``P.fold`` computes f(L) the way Spark would."""
    def lit(v):
        return P.Lit("number", str(v), v) if isinstance(v, int) \
            else P.Lit("string", f"'{v}'", v)

    m = re.fullmatch(r"\s*(?:to_date\(\s*([A-Za-z_]\w*)\s*\)|"
                     r"cast\(\s*([A-Za-z_]\w*)\s+as\s+date\s*\))\s*",
                     gexpr, re.IGNORECASE)
    if m:
        return m.group(1) or m.group(2), lambda l: P.fold("to_date", [l])
    m = re.fullmatch(r"\s*date_trunc\(\s*'(\w+)'\s*,\s*([A-Za-z_]\w*)\s*\)\s*",
                     gexpr, re.IGNORECASE)
    if m:
        return m.group(2), lambda l, u=lit(m.group(1)): P.fold("date_trunc", [u, l])
    m = re.fullmatch(r"\s*year\(\s*([A-Za-z_]\w*)\s*\)\s*", gexpr, re.IGNORECASE)
    if m:
        return m.group(1), lambda l: P.fold("year", [l])
    m = re.fullmatch(r"\s*substr(?:ing)?\(\s*([A-Za-z_]\w*)\s*,\s*1\s*,\s*(\d+)\s*\)\s*",
                     gexpr, re.IGNORECASE)
    if m:
        n = lit(int(m.group(2)))
        return m.group(1), lambda l, n=n: P.fold("substring", [l, lit(1), n])
    m = re.fullmatch(
        r"\s*date_format\(\s*([A-Za-z_]\w*)\s*,\s*"
        r"'(yyyy(?:-MM(?:-dd(?: HH)?)?)?)'\s*\)\s*", gexpr, re.IGNORECASE)
    if m:
        return m.group(1), lambda l, f=lit(m.group(2)): P.fold("date_format", [l, f])
    return None


_WIDEN = {"<": "<=", "<=": "<=", ">": ">=", ">=": ">=", "=": "="}


def _generated_conjuncts(info, atoms) -> list[P.Atom]:
    """Translate comparisons on a generated column's SOURCE into
    partition atoms on the generated column: with day = to_date(ts)
    (or date_trunc / year / ISO-prefix substring / date_format — every
    monotone form _generated_translator knows), ``ts >= L`` implies
    ``day >= f(L)`` — so queries that only mention ts still prune
    directories. Equality maps to partition equality; strict
    comparisons widen to the containing bucket (safe: pruning keeps a
    superset, rows re-filter later)."""
    out = []
    for k, gexpr in (info.configuration or {}).items():
        gcol = k[len("generated."):]
        tr = (_generated_translator(gexpr)
              if k.startswith("generated.") and gcol in info.range_cols
              else None)
        if tr is None:
            continue  # non-monotone / unrecognized: no translation
        src, fold = tr
        for a in atoms:
            if a.kind == "cmp" and a.col == src and a.op in _WIDEN:
                lit = fold(a.lits[0])
                if lit is not None:
                    out.append(P.Atom("cmp", gcol, _WIDEN[a.op], (lit,)))
    return out


def _like_prefix_upper(prefix: str) -> str | None:
    """Exclusive upper bound of the strings matching ``prefix%``:
    prefix with its last character incremented. None when the last
    char can't be safely incremented (non-ASCII tail — bail rather
    than reason about UTF-8 edge cases)."""
    last = prefix[-1]
    if not prefix.isascii() or ord(last) >= 0x7E:
        return None
    return prefix[:-1] + chr(ord(last) + 1)


_MAX_LOOKUP_COMBOS = 64


# ---------------------------------------------------------------------------
# Murmur3_x86_32 — bit-exact twin of Spark's hash() for the types bucket
# lookups use (int-likes, long, string), so probe planning computes its
# bucket WITHOUT a JVM round trip. Guava/Spark variant: 4-byte blocks
# little-endian, signed tail bytes, seed chains across columns, nulls
# skipped. Differentially pinned against F.hash in test_plan_hygiene.
# ---------------------------------------------------------------------------

def _mmh3_mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & 0xFFFFFFFF
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
    return (k1 * 0x1B873593) & 0xFFFFFFFF


def _mmh3_mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
    return (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF


def _mmh3_fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    return h1 ^ (h1 >> 16)


def _mmh3_int(v: int, seed: int) -> int:
    return _mmh3_fmix(_mmh3_mix_h1(seed, _mmh3_mix_k1(v & 0xFFFFFFFF)), 4)


def _mmh3_long(v: int, seed: int) -> int:
    h1 = _mmh3_mix_h1(seed, _mmh3_mix_k1(v & 0xFFFFFFFF))
    h1 = _mmh3_mix_h1(h1, _mmh3_mix_k1((v >> 32) & 0xFFFFFFFF))
    return _mmh3_fmix(h1, 8)


def _mmh3_bytes(data: bytes, seed: int) -> int:
    n = len(data)
    aligned = n - n % 4
    h1 = seed
    for i in range(0, aligned, 4):
        word = int.from_bytes(data[i:i + 4], "little", signed=True)
        h1 = _mmh3_mix_h1(h1, _mmh3_mix_k1(word & 0xFFFFFFFF))
    for i in range(aligned, n):
        b = data[i]
        half = b - 256 if b >= 128 else b  # Java signed byte
        h1 = _mmh3_mix_h1(h1, _mmh3_mix_k1(half & 0xFFFFFFFF))
    return _mmh3_fmix(h1, n)


def _spark_hash_py(values: list, dtypes: list) -> int | None:
    """Spark ``hash(cols...)`` (seed 42, seed-chained columns) for
    int-like/long/string values, or None when a type is outside the
    supported envelope. Returns the SIGNED 32-bit result."""
    h = 42
    for v, dt in zip(values, dtypes):
        if v is None:
            continue  # null columns leave the running hash unchanged
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
            h = _mmh3_int(int(v), h)
        elif isinstance(dt, T.LongType):
            h = _mmh3_long(int(v), h)
        elif isinstance(dt, T.StringType):
            s = str(v)
            if not s.isascii():
                return None  # stay off UTF-8 edge cases; JVM path handles
            h = _mmh3_bytes(s.encode("utf-8"), h)
        else:
            return None
    return h - (1 << 32) if h >= (1 << 31) else h


def _buckets_for_lookup(spark, info: TableInfo, atoms) -> set[int] | None:
    """Bucket ids when EVERY hash column is pinned to literal(s) —
    the reference's bucket pruning (ParquetScanSuite point lookups),
    extended to IN-lists: the writer places a key's rows in bucket
    pmod(hash(keys), n) via repartition's HashPartitioning, so a point
    lookup needs exactly one bucket's files per partition and a
    ``k IN (a, b, c)`` lookup at most three. Buckets hash the SAME
    murmur3 hash() the shuffle used, with literals cast to the declared
    column types (hash(5) != hash(5L), and '5' on a bigint key is 5 —
    the cast is load-bearing): in-process where ``P.value`` gives the
    cast value, else by Spark itself. Returns None (no pruning) when
    any hash column is unpinned or the value-combination count exceeds
    ``_MAX_LOOKUP_COMBOS`` (a wide IN-list reads most buckets anyway).
    """
    if info.bucket_num <= 0 or not info.hash_cols:
        return None
    lits: dict[str, tuple] = {}
    for a in atoms:
        if a.col in info.hash_cols and a.op == "=":
            lits[a.col] = a.lits
        elif a.col in info.hash_cols and a.kind == "in":
            # equality beats IN when both pin the column (narrower)
            lits.setdefault(a.col, a.lits)
    if set(lits) != set(info.hash_cols):
        return None
    n_combos = 1
    for v in lits.values():
        n_combos *= len(v)
    if n_combos > _MAX_LOOKUP_COMBOS:
        return None
    import itertools

    combos = list(itertools.product(*[lits[c] for c in info.hash_cols]))
    types = _types(info)
    dtypes = [types[c] for c in info.hash_cols]

    # fast path: compute the writer's murmur3 in-process (bit-exact
    # twin, differentially pinned) — probe planning then needs no JVM
    # round trip at all
    parsed = [[P.value(lit, dt) for lit, dt in zip(combo, dtypes)]
              for combo in combos]
    if all(v is not P.FALLBACK for vals in parsed for v in vals):
        hashes = [_spark_hash_py(vals, dtypes) for vals in parsed]
        if None not in hashes:
            return {h % info.bucket_num for h in hashes} or None

    selects = []
    for combo in combos:
        args = ", ".join(
            f"CAST({lit.text} AS {types[c].simpleString()})"
            for c, lit in zip(info.hash_cols, combo))
        selects.append(f"SELECT pmod(hash({args}), {info.bucket_num}) AS b")
    rows = spark.sql(" UNION ALL ".join(selects)).collect()
    out = {int(r["b"]) for r in rows if r["b"] is not None}
    return out or None


# per comparison op: the file-bound tests its literal must pass,
# (bound, op) — a file can hold `col > v` only if its max > v
_BOUND_TESTS = {"=": (("max", ">="), ("min", "<=")), ">": (("max", ">"),),
                ">=": (("max", ">="),), "<": (("min", "<"),),
                "<=": (("min", "<="),)}


def _stat_value(lit: P.Lit, dtype):
    """A literal in the manifest's stat encoding (writer._json_safe_stat:
    numbers, ASCII strings, ISO dates and 'date time' strings, where
    lexicographic == chronologic), or ``FALLBACK`` when a Python
    comparison can't be trusted to match Spark's coercion (decimals,
    booleans, non-ASCII strings)."""
    v = P.value(lit, dtype)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bool, decimal.Decimal)) or (
            isinstance(v, str) and not v.isascii()):
        return P.FALLBACK
    return v


def _stat_ok_py(v, dtype) -> bool:
    """Is this manifest stat value comparable in Python against a
    ``_stat_value`` literal of the same column type?"""
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                          T.FloatType, T.DoubleType)):
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if isinstance(dtype, T.StringType):
        return isinstance(v, str) and v.isascii()
    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return isinstance(v, str) and "+" not in v
    return False


def _stats_tests(info, atoms, allowed_cols) -> list[tuple]:
    """What footer stats can decide of ``atoms`` (already ``prunable``):
    per atom ``(col, kind, tests)``. kind "null" / "notnull" reads the
    null count; kind "bounds" carries ``(bound, op, value, sql)`` tests
    that a file's min / max must pass for the atom to possibly hold —
    ``value`` the stat-encoded literal (``FALLBACK`` without one) for
    the Python path, ``sql`` its text for the Spark path."""
    types = _types(info)
    out = []
    for a in atoms:
        if a.col not in allowed_cols or a.op == "!=":
            continue
        if a.kind == "null":
            out.append((a.col, a.op, ()))
        elif a.kind == "like":
            # matches live in [prefix, upper): overlap test against the
            # file's [min, max] (string stats compare in code-point
            # order == UTF-8 byte order)
            prefix = a.lits[0].value[:-1]
            upper = _like_prefix_upper(prefix)
            if upper is not None:
                out.append((a.col, "bounds", (
                    ("max", ">=", prefix, _sql_str(prefix)),
                    ("min", "<", upper, _sql_str(upper)))))
        elif a.kind == "in":
            # range check against the list's envelope: a file whose
            # [min,max] misses [least,greatest] can't hold any member
            vals = [_stat_value(l, types[a.col]) for l in a.lits]
            sql = ", ".join(l.text for l in a.lits)
            lo, hi = ((P.FALLBACK, P.FALLBACK)
                      if any(v is P.FALLBACK for v in vals)
                      else (min(vals), max(vals)))
            out.append((a.col, "bounds", (
                ("max", ">=", lo, f"least({sql})"),
                ("min", "<=", hi, f"greatest({sql})"))))
        else:
            v = _stat_value(a.lits[0], types[a.col])
            out.append((a.col, "bounds", tuple(
                (b, op, v, a.lits[0].text) for b, op in _BOUND_TESTS[a.op])))
    return out


def _try_prune_python(info, files, atoms, allowed_cols):
    """Pure-Python evaluation of the stats-skipping decision — the
    hot-path twin of the Spark evaluation below, for the literals
    ``_stat_value`` encodes. Returns None when ANY analyzable atom
    has a literal outside that envelope (decimals, booleans,
    non-ASCII strings, exotic formats), in which case the caller runs
    the Spark-coercion path. Point lookups and time-range scans hit
    this path, saving a driver-side Spark job PER SCAN — at one scan
    per CDC window / probed key, those jobs dominate."""
    checks = _stats_tests(info, atoms, allowed_cols)
    if any(t[2] is P.FALLBACK for _, _, tests in checks for t in tests):
        return None
    if not checks:
        return files
    types = _types(info)
    amap = alias_map(info)

    def _keep(f) -> bool:
        st = f.stats or {}
        for col, kind, tests in checks:
            phys = _resolve_physical(col, st, amap)
            b = ({} if phys is None else st.get(phys)) or {}
            n = b.get("nulls")
            if kind == "null":
                if n == 0:
                    return False
                continue
            if kind == "notnull":
                if n is not None and 0 <= f.num_rows <= n:
                    return False
                continue
            if b.get("min") is None or b.get("max") is None:
                continue  # no bounds: file passes this atom
            if not (_stat_ok_py(b["min"], types[col])
                    and _stat_ok_py(b["max"], types[col])):
                raise _PyPruneBail()
            try:
                if not all(P.CMP[op](b[bound], v) for bound, op, v, _ in tests):
                    return False
            except TypeError:
                raise _PyPruneBail()
        return True

    try:
        return [f for f in files if _keep(f)]
    except _PyPruneBail:
        return None


class _PyPruneBail(Exception):
    pass


def _prune_files_by_stats(spark, info, files, atoms, allowed_cols):
    """Delta-style data skipping (beyond the reference — its
    DataFileInfo has no column stats): keep only files whose footer
    min/max (and null counts) could satisfy every analyzable atom. A
    file lacking bounds for a column passes that atom (coalesce(..,
    true)); the evaluation happens in a tiny driver-side DataFrame so
    literal casting follows Spark's own coercion rules, like the Spark
    arm of _prune_partitions_sql. The all-Python fast path above
    answers first wherever its narrower literal envelope provably
    matches that coercion."""
    fast = _try_prune_python(info, files, atoms, allowed_cols)
    if fast is not None:
        return fast
    types = _types(info)
    conds = []
    need_cols = set()
    null_cols = set()
    for col, kind, tests in _stats_tests(info, atoms, allowed_cols):
        # footer null counts: `IS NULL` skips files with zero nulls in
        # the column; `IS NOT NULL` skips files that are ALL null (null
        # count == row count). Unknown counts pass.
        if kind == "null":
            conds.append(f"coalesce(`_nulls_{col}` > 0, true)")
            null_cols.add(col)
        elif kind == "notnull":
            conds.append(f"coalesce(`_nulls_{col}` < `_rows`, true)")
            null_cols.add(col)
        else:
            conds.append("coalesce(" + " AND ".join(
                f"`_{b}_{col}` {op} {sql}" for b, op, _, sql in tests) + ", true)")
            need_cols.add(col)
    if not conds:
        return files
    amap = alias_map(info)
    rows = []
    for i, f in enumerate(files):
        st = f.stats or {}
        row = {"_idx": i, "_rows": f.num_rows if f.num_rows >= 0 else None}
        for c in need_cols:
            # pre-rename files recorded footer bounds under the old
            # physical name — resolve through the alias map so renamed
            # columns keep skipping (missing either way ⇒ file kept)
            phys = _resolve_physical(c, st, amap)
            b = ({} if phys is None else st.get(phys)) or {}
            mn, mx = b.get("min"), b.get("max")
            row[f"_min_{c}"] = None if mn is None else str(mn)
            row[f"_max_{c}"] = None if mx is None else str(mx)
        for c in null_cols:
            phys = _resolve_physical(c, st, amap)
            b = ({} if phys is None else st.get(phys)) or {}
            row[f"_nulls_{c}"] = b.get("nulls")
        rows.append(row)
    fields = [T.StructField("_idx", T.IntegerType()),
              T.StructField("_rows", T.LongType())]
    for c in sorted(need_cols):
        fields += [T.StructField(f"_min_{c}", T.StringType()),
                   T.StructField(f"_max_{c}", T.StringType())]
    for c in sorted(null_cols):
        fields.append(T.StructField(f"_nulls_{c}", T.LongType()))
    pdf = local_df(spark,
        [[r.get(f.name) for f in fields] for r in rows], T.StructType(fields))
    for c in need_cols:
        pdf = (pdf.withColumn(f"_min_{c}", F.col(f"_min_{c}").cast(types[c]))
                  .withColumn(f"_max_{c}", F.col(f"_max_{c}").cast(types[c])))
    keep = {r["_idx"] for r in pdf.filter(F.expr(" AND ".join(conds))).collect()}
    return [f for i, f in enumerate(files) if i in keep]


def _prune_files_by_bloom(info, table_path, files, atoms, allowed_cols):
    """File-level Bloom skipping (operators/bloom.py): drop files whose
    bitmap PROVES an equality/IN atom can't match. Runs after
    min/max stats pruning — it's the layer that fires on point lookups
    over high-cardinality UNSORTED columns, where every file's [min,
    max] spans the domain and stats keep everything. Pure Python, zero
    Spark jobs: literals hash through the bit-exact murmur3 twin
    (_spark_hash_py, differentially pinned — bloom build uses the JVM's
    F.hash on the same double-hash family). Fail-open everywhere: no
    bloom_ref / no exact literal value / non-ASCII string / missing
    sidecar row ⇒ the file stays."""
    if not any(f.bloom_ref for f in files):
        return files
    from starlake_spark.operators import bloom as _bloom

    types = _types(info)
    checks = []  # (col, [(h1, h2), ...]) — file dropped iff ALL absent
    for a in atoms:
        dt = types[a.col]
        if a.op not in ("=", "in") or a.col not in allowed_cols \
                or not isinstance(dt, _bloom._ELIGIBLE):
            continue
        vals = [P.value(lit, dt) for lit in a.lits]
        hashes = [(_spark_hash_py([v], [dt]),
                   _spark_hash_py([v, 1], [dt, T.IntegerType()]))
                  for v in vals if v is not P.FALLBACK]
        if len(hashes) == len(vals) and all(None not in h for h in hashes):
            checks.append((a.col, hashes))
    if not checks:
        return files
    amap = alias_map(info)
    kept = []
    for f in files:
        if not f.bloom_ref:
            kept.append(f)
            continue
        ref = f.bloom_ref if os.path.isabs(f.bloom_ref) \
            else os.path.join(table_path, f.bloom_ref)
        side = _bloom.load_sidecar(ref)
        base = f.path if os.path.isabs(f.path) \
            else os.path.join(table_path, f.path)
        drop = False
        for col, hashes in checks:
            phys = _resolve_physical(
                col, {c for (p, c) in side if p == base}, amap)
            row = None if phys is None else side.get((base, phys))
            if row is None:
                continue  # no bitmap for this column: conjunct passes
            m_bits, k, bits = row
            if not any(_bloom.test_membership(bits, m_bits, k, h1, h2)
                       for h1, h2 in hashes):
                drop = True
                break
        if not drop:
            kept.append(f)
    return kept


def scan(
    spark: SparkSession,
    store: ManifestStore,
    version: int | None = None,
    merge_operators: dict | None = None,
    partition_filter=None,
    snapshot: Snapshot | None = None,
    where: str | None = None,
    schema_as_of: bool = True,
    with_rowid: bool = False,
    broadcast_hint: bool = True,
) -> DataFrame:
    """Build the DataFrame view of a table snapshot.

    ``partition_filter``: manifest-level partition pruning (reference
    PartitionFilter.scala:26-106 evaluates partition predicates before
    file listing). Either a python predicate over the decoded
    range-value dict (zero Spark jobs), or a SQL predicate string
    evaluated over a tiny DataFrame of the partition values — the
    reference's exact technique (PartitionFilter.scala:28-52).

    ``merge_operators``: {column: op} where op is a name ('sum',
    'concat', ...), a MergeOperator, or a Python callable.

    ``with_rowid``: append the deletion-vector identity columns
    (_star_fid, _star_pos) to the output — non-hash tables only (a
    MoR-merged row has no single physical position). The DV delete
    path records positions through this flag.

    ``broadcast_hint=False``: leave out the manifest-size broadcast
    hint (below). Callers whose scan only ever feeds the probe side of
    a left-semi join pass it: Spark cannot build that side and would
    drop the hint with a warning on every query.
    """
    # refresh=True: a scan must serve the CURRENT declared schema even
    # on a long-lived handle — another process's ALTER / auto-merged
    # upsert column appears on the next read (Delta re-reads the log
    # per query; this is one ~KB driver-side JSON read per scan)
    info = store.table_info(refresh=True)
    snap = snapshot or store.snapshot(version)
    # Versioned schema (Delta-style): an explicit time-travel read uses
    # the schema AS OF that commit — a column dropped or renamed since
    # reappears under its then-current name. Pre-feature manifests
    # (schema_json absent) and latest-reads use the live schema.
    # ``schema_as_of=False`` opts internal versioned readers (CDC
    # boundary scans, rollup refresh partials) back into the CURRENT
    # schema so their two sides always line up column-for-column.
    if (schema_as_of and (version is not None or snapshot is not None)
            and snap.schema_json and snap.schema_json != info.schema_json):
        import dataclasses as _dc

        info = _dc.replace(info, schema_json=snap.schema_json)
    # Tables can DECLARE their merge operators (compaction.merge_operators
    # property, set e.g. by create_rollup): every scan that isn't given
    # explicit operators then collapses MoR versions with the declared
    # ones — so update/delete/CoW rewrites and plain to_df() reads see
    # the same canonical view compaction materializes, instead of
    # silently last-wins-collapsing partial-aggregate tables.
    if merge_operators is None:
        prop = (info.configuration or {}).get("compaction.merge_operators")
        if prop:
            merge_operators = json.loads(prop)
    ops = {c: mo.resolve(op) for c, op in (merge_operators or {}).items()}
    if ops and not info.hash_cols:
        raise ValueError("merge operators require a hash-partitioned table "
                         "(reference ExtractMergeOperator.scala:106-121)")
    if ops:
        known = {f.name for f in _schema(info).fields}
        keys = set(info.range_cols + info.hash_cols)
        for c in ops:
            if c not in known:
                raise KeyError(f"merge operator on unknown column '{c}'")
            if c in keys:
                raise ValueError(f"merge operator on partition/hash column '{c}'")

    types = _types(info)
    if isinstance(partition_filter, str):
        keep = _prune_partitions_sql(spark, info, list(snap.partitions),
                                     P.parse(partition_filter))
        partition_filter = lambda d, _keep=keep: d in _keep  # noqa: E731

    # `where` is parsed ONCE into typed atoms (operators/predicate.py).
    # It (a) prunes partitions via its range-column atoms — the
    # metadata/data predicate split of StarLakeUtils.scala:117-147 —
    # (b) skips buckets and files via footer stats and blooms, and
    # (c) is ALWAYS re-applied row-level at the end, so (a)+(b) are
    # pure I/O savings with no correctness surface.
    pred = P.parse(where)
    if info.range_cols and (pred.atoms or pred.others):
        rc = set(info.range_cols)
        # a left-over conjunct naming only range columns is a
        # metadata-only predicate too: the Spark arm evaluates it
        part = P.Pred(
            tuple(a for a in pred.atoms if a.col in rc)
            + tuple(_generated_conjuncts(info, pred.atoms)),
            tuple(o for o in pred.others
                  if (cols := o.refs.intersection(types)) and cols <= rc))
        if part.atoms or part.others:
            keep2 = _prune_partitions_sql(
                spark, info, list(snap.partitions), part)
            prev = partition_filter
            partition_filter = (
                lambda d, _k=keep2, _p=prev: d in _k and (_p is None or _p(d)))

    plain_files: list[DataFileInfo] = []
    merge_files: list[DataFileInfo] = []
    dv_infos: list[DataFileInfo] = []
    for rv, ps in snap.partitions.items():
        if partition_filter is not None and not partition_filter(decode_range_value(rv)):
            continue
        # single-version partitions normally scan plain (in-batch dedup
        # guarantees unique keys) — but a lone mixed_delta commit
        # (upsert_with_tombstones on a fresh partition) carries
        # tombstone rows that only the merge path filters
        needs_merge = info.hash_cols and (
            len({f.write_version for f in ps.files}) > 1
            or any(TOMBSTONE_COL in f.exist_cols for f in ps.files))
        (merge_files if needs_merge else plain_files).extend(ps.files)
        dv_infos.extend(ps.dv_files)  # non-hash tables only (dml guard)

    # An operator that is NOT identity on a singleton version list
    # (PythonMergeOp default) must also see single-version partitions —
    # otherwise a half-compacted table would apply the op on deltaed
    # partitions and return raw values on compacted ones. Built-ins are
    # all singleton-identity, so this costs nothing in the common case.
    if plain_files and ops and not all(
            op.singleton_identity for op in ops.values()):
        merge_files = merge_files + plain_files
        plain_files = []

    skip = P.prunable(pred.atoms, types)
    if skip and (plain_files or merge_files):
        # bucket pruning: a full-key equality lookup touches exactly one
        # bucket's files per partition, an IN-list lookup at most one
        # per listed key (adopted bucket_id=-1 files pass)
        bs = _buckets_for_lookup(spark, info, skip)
        if bs is not None:
            keep = bs | {-1}
            plain_files = [f for f in plain_files if f.bucket_id in keep]
            merge_files = [f for f in merge_files if f.bucket_id in keep]

    if skip:
        if plain_files:
            # plain files: every row is final → any column's bounds skip
            plain_files = _prune_files_by_stats(
                spark, info, plain_files, skip, types.keys())
            plain_files = _prune_files_by_bloom(
                info, store.table_path, plain_files, skip, types.keys())
        if merge_files:
            # MoR inputs: non-key columns change under the merge (a
            # skipped older version would alter sum/last results) — only
            # the groupBy keys survive identically, so only key-column
            # atoms may skip pre-merge files.
            key_cols = set(info.range_cols) | set(info.hash_cols)
            merge_files = _prune_files_by_stats(
                spark, info, merge_files, skip, key_cols)
            merge_files = _prune_files_by_bloom(
                info, store.table_path, merge_files, skip, key_cols)

    if with_rowid and (merge_files or info.hash_cols):
        raise ValueError(
            "with_rowid requires a non-hash table (a MoR-merged row "
            "has no single physical position)")
    parts = []
    if plain_files:
        # reaching here with ops ⇒ every op is singleton-identity, so a
        # plain columnar scan IS the operator result on these partitions
        parts.append(_plain_scan(spark, store, info, plain_files,
                                 dv_infos=dv_infos, with_rowid=with_rowid))
    if merge_files:
        parts.append(_merge_scan(spark, store, info, merge_files, ops))
    if not parts:
        out = _empty_df(spark, info)
        if with_rowid:
            out = out.withColumn(DV_FID, F.lit(None).cast("string")) \
                     .withColumn(DV_POS, F.lit(None).cast("long"))
        return out
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if merge_files and broadcast_hint:
        # Manifest-size broadcast hint: Catalyst estimates a plain
        # parquet relation from its file sizes, but the MoR collapse
        # (union + groupBy) defeats that — a 2 MB dimension table with
        # one delta would sort-merge-join. The manifest already knows
        # the scan's byte size (post-merge output ≤ pre-merge file
        # bytes, so the figure is conservative); below the session's
        # autoBroadcastJoinThreshold, hint broadcast. Spark drops the
        # hint with a warning where it can't apply (e.g. the preserved
        # side of an outer join) — never a correctness surface.
        thr = _conf_bytes(spark, "spark.sql.autoBroadcastJoinThreshold")
        if 0 < sum(f.size for f in merge_files + plain_files) <= thr:
            out = F.broadcast(out)
    return out


_SIZE_RE = re.compile(r"^(-?\d+)\s*([kmgt]?b?)$")
_SIZE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10,
               "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
               "t": 1 << 40, "tb": 1 << 40}


def _conf_bytes(spark: SparkSession, key: str) -> int:
    """A byte-size SQL conf in bytes (-1 = disabled or unparsable)."""
    m = _SIZE_RE.match(str(spark.conf.get(key)).strip().lower())
    return int(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else -1
