"""mtable — a minimal manifest-committed parquet table format (ACID on a
single table, Delta-lite).

Why this exists: the reference materializes feature views by directory
overwrite (``/root/reference/jobs/build_feature_views.py:75-82``) — "ACID"
there is rerun-until-it-looks-right.  BASELINE.json names Delta Lake as the
production materialization format, but neither delta nor iceberg is
installable in this environment, and any directory-swap merge leaves one
gap: a reader listing a partition DIRECTORY during the publish window can
see old and new files together.  The fix is the core idea of every table
format, which needs ~200 lines, not a dependency: **readers never list
directories — they read exactly the files named by a manifest, and a
commit is one atomic manifest PUT.**  This module is the package's one
keyed MERGE (``merge_upsert``) and its one clustered layout (``compact``
with ``order_by`` / ``zorder_by``).

Layout::

    <table>/data/<partition>=<v>/part-<uuid>.parquet   (append-only objects)
    <table>/_manifest/v0000000001.json                 (one per version)
    <table>/_manifest/c0000000042.json                 (vacuum checkpoint)
    <table>/_manifest/_latest_hint                     (advisory pointer)

A manifest is either FULL — the complete table state (schema fingerprint,
the partition-value -> [data files] map, per-file stats, parent version,
operation) — or a DELTA carrying only the touched partitions' entries and
the newly staged files' stats (O(touched partitions) JSON per commit, the
streaming-cadence requirement on a large table).  Every
``checkpoint_interval``-th version in a chain, every ``overwrite``, and v1
are full, bounding state reconstruction to a constant number of raw reads
(cached per handle).  ``_latest_hint`` is a best-effort pointer written
after each commit so latest-version resolution is O(1 + staleness)
existence probes instead of an O(versions) directory listing; it is
advisory only — the manifest CAS remains the commit point, and a missing/
stale/garbled hint falls back to probe-forward or the listing.  Vacuum
materializes the oldest retained version's full state as a ``c*.json``
checkpoint before deleting older manifests, so retained delta versions
stay readable (Delta's checkpoint recipe).  Guarantees, and where each
comes from:

- **Atomic commit**: a version becomes visible exactly when its manifest
  object appears; data files are staged invisibly first (readers never
  list ``data/``).  The ONE primitive the guarantee rests on is
  put-if-absent of the manifest object, extracted behind the
  :class:`LogStore` seam (the Delta LogStore recipe): the default
  :class:`HadoopLogStore` gets it from ``create(overwrite=false)``
  (HDFS/local POSIX/ABFS).  Two racing writers therefore cannot both
  claim a version on ANY store with a put-if-absent primitive; a store
  without one needs an external coordinator (Delta's DynamoDB LogStore
  shape) — plug it in through the same seam.
- **Snapshot isolation**: a reader resolves the latest manifest once and
  plans against that exact file list; concurrent commits add NEW files and
  NEW manifests, never mutate or delete referenced ones — the snapshot
  stays valid for as long as vacuum retention.
- **Time travel**: every manifest is retained; ``read(version=N)`` plans
  against the historical file list.
- **Crash safety**: a writer dying before the manifest PUT leaves orphan
  data files invisible to every reader (vacuum reclaims them); dying after
  the PUT leaves a fully committed version.  There is no intermediate.
- **Vacuum**: deletes data files referenced by NO retained manifest,
  keeping the last ``keep_versions`` manifests (and so every snapshot a
  reader could still hold within that horizon).

Scale shape: the manifest holds file PATHS, not data — O(files), written
once per commit from the driver; reads hand Spark an explicit file list so
Catalyst still does column pruning/pushdown per file; merge commits rewrite
only touched partitions' entries (the untouched partitions' files are
carried by reference, byte-identical — same economics as Delta's MERGE).

**Data skipping**: commits made with ``stats_cols=[...]`` record per-file
min/max/null-count for those columns in the manifest (one extra scan of
the just-staged files, while they are still page-cache-hot; carried-forward
files keep their existing stats entries by reference).  ``read(...,
prune=[(col, op, value), ...])`` then drops every file whose stats PROVE no
row can match — the file list shrinks driver-side before Spark plans the
scan, which at 100 TB is the difference between "open every footer in the
partition" and "open the three files whose range overlaps the predicate".
Skipping is strictly conservative: a file with no stats for the column (or
an un-stats'd commit) is always read, and callers still apply the real
filter — pruning only ever removes provably-irrelevant IO.
``bloom_cols=[...]`` additionally records a per-file BLOOM FILTER (md5
double-hashed, ``bloom_bits`` bits, built inside the same stats scan) so
EQUALITY probes prune files min/max cannot: a point lookup on a key
uncorrelated with the layout straddles every file's range, but only the
files whose bloom contains the key are opened.  Blooms and ranges inherit
independently through merges/compaction; a bloom can only FALSE-POSITIVE
(extra IO), never false-negative.

**Schema evolution (additive)**: commits made with ``allow_evolution=True``
may ADD columns; the manifest schema becomes the union, old files stay
byte-identical, and readers surface typed nulls for rows written before a
column existed (``mergeSchema`` over the manifest's explicit file list,
plus a driver-side null-fill for selections that touch only pre-evolution
files).  Non-widening retypes still raise — those need a rewrite, the
same stance as Delta without ``overwriteSchema``.  A commit that replaces
every live file re-homogenizes the table and clears the flag.

**Type widening (RETYPE without rewrite)**: commits made with
``allow_widening=True`` may UP-cast column types (the integer chain,
float -> double, <=int32 -> double, same-scale decimal precision growth
— exactly the casts Spark's parquet reader performs losslessly in the
scan).  The manifest takes the wide type, files stay byte-identical, and
widened tables read under the manifest's explicit schema instead of
mergeSchema (which refuses mixed widths).  Narrower frames appended to
an already-widened table are accepted as-is — the scan up-casts.
Non-widening retypes still require the full-overwrite rewrite.

**Generated columns**: ``write(..., generated={"col": "expr"})`` at
creation declares a column GENERATED ALWAYS AS its expression: writers
may omit it (derived before staging) and may not disagree with it
(implicit null-safe-equality CHECK, enforced on the staged files before
the commit CAS); UPDATE refuses to SET it and re-derives it when sources
change; rename follows it, dropping a source is refused.  Declaring the
PARTITION column generated gives hidden-partitioning ergonomics: writers
append raw rows, the table derives its own layout (and ``merge_upsert`` no
longer needs a ``partition_col_value``).

**Partition spec evolution (REPARTITION without rewrite)**: the Iceberg
capability Delta lacks — ``repartition_table(new_col)`` changes the
partition layout for future writes in one O(manifest) metadata commit.
Existing files freeze as LEGACY entries (namespaced keys in the same
partition map) with their stats/blooms intact; the old partition column
becomes a data column (new files store it, legacy files restore it from
their paths), and the new one must already be a data column (that is what
makes the evolution rewrite-free).  Reads present one logical table
across layouts; value selection targets the current spec; copy-on-write
DML and ``migrate()`` progressively rewrite legacy files into the new
layout (merge semantics); ``merge_upsert``/``overwrite_partitions``
refuse while legacy entries exist (keyed/replace semantics are
ill-defined across hidden legacy rows — migrate first); the change feed
emits nothing for the respec itself (flat file-set diffing).

**Column mapping (RENAME / DROP COLUMN without rewrite)**: files carry
stable PHYSICAL column names; the manifest's ``mapping`` (logical ->
physical) and ``dropped`` (retired physicals) make
``rename_column``/``drop_column`` O(manifest) metadata commits — the
Delta column-mapping (name mode) shape.  ``read()`` and the change feed
present logical names; every write path maps back at staging; a re-added
logical name gets a FRESH physical so retired bytes never resurrect;
stats/blooms/DVs stay physically keyed, so data skipping survives
renames; time travel shows each version under its own names; racing a
rename/drop against any in-flight writer is an OCC conflict.  A full
overwrite resets both fields (logical names become physical again).

**Row-level DELETE, both physical strategies**: ``delete(condition,
prune=...)`` rewrites only the files stats/blooms cannot prove match-free
(copy-on-write, the GDPR shape); ``delete_positions(condition, prune=...)``
is the MERGE-ON-READ alternative — matching rows become (file, row_index)
tombstones in small DELETION-VECTOR files the manifest carries, every
read anti-applies via one broadcast join, copy-on-write rewrites and
compaction read through them (folding them away), vacuum treats live DV
files as referenced state, and the change feed emits position deletes as
row-level delete events.  Dropping 100 rows from a 1 GB file costs a KB
tombstone instead of the rewrite; when tombstones stop being small,
``compact`` materializes them away.

**Change data feed**: ``read_changes(v_from, v_to)`` plans exactly the
per-commit file-list differences (O(changed files), never the table; delta
manifests diff in O(touched files)), tagging rows insert/delete per commit
— copy-on-write rewrite pairs cancel under per-row netting, and
``skip_compactions=True`` omits row-preserving maintenance churn entirely.
``streaming/changes_stream.ChangeFeedConsumer`` tails it with
table-version offsets.

**RESTORE / DESCRIBE**: ``restore(v)`` re-commits a historical state by
reference (one manifest write, history preserved, feed delta = exact
inverse); ``describe()`` reports layout/schema/generated columns/exact
rowcounts from the manifest alone.

What this deliberately does NOT implement (and real Delta/Iceberg add):
multi-table transactions, NARROWING/lossy retypes without rewrite (only
the lossless widening set above), and bitmap-compressed deletion vectors
(ours are plain parquet position tombstones — same read semantics,
simpler encoding).
"""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "MTable",
    "ConcurrentCommit",
    "ConstraintViolation",
    "NoSuchVersion",
    "ProtocolVersionError",
]

# Protocol versioning (the Delta protocol-versioning recipe,
# delta-io PROTOCOL.md "Protocol Evolution"): every manifest records the
# minimum reader/writer capability it needs, and this build refuses —
# LOUDLY, never by silently misreading — any manifest stamped with a
# future requirement.  Manifests written before the stamp existed read as
# requirement 1 (this build), so old tables stay forward-compatible.
# Bump _READER_VERSION only for a change old readers would MISREAD (not
# merely ignore); bump _WRITER_VERSION when old writers could corrupt
# invariants a new feature relies on.
_READER_VERSION = 1
_WRITER_VERSION = 1

_MANIFEST_DIR = "_manifest"
_DATA_DIR = "data"
# Legacy-spec partition keys are namespaced "<old_pby>\x1f<value>".  The unit
# separator cannot appear in a key's value half: partition directory names
# escape control characters (%1F), and the map values come from those escaped
# path components — so plain current-spec keys and legacy keys never collide.
_SPEC_SEP = "\x1f"

# Hive-style partition-path escaping: Spark's writer escapes a fixed char set
# ("%XX", '%' itself included) in partition directory names, and the manifest
# keys carry that ESCAPED form (they come from the staged dir names).  A
# path component pulled out of ``input_file_name()`` carries TWO escaping
# layers, because input_file_name returns a URI: the raw directory name on
# disk is the Hive-escaped value, and the URI rendering percent-encodes it
# AGAIN (space -> %20, and critically '%' -> %25, so a disk name "a%3Db"
# arrives as "a%253Db").  Restoring the TRUE value therefore needs two
# full percent-decodes, not one — a single fixed-table pass decoded '%25'
# last and left "a%3Db" mangled (ADVICE r10 #1).  Both layers are plain
# %XX decodes: the URI layer by construction, and the Hive layer because
# the writer escapes '%' itself, so after the URI decode every remaining
# '%' introduces a writer escape.  java.net.URLDecoder semantics also
# decode '+' as space, which neither layer produces for a literal '+'
# (Hive leaves '+' raw on disk; URIs keep it raw in paths) — so '+' is
# masked to %2B before each decode and round-trips exactly.


def _decode_pct_col(col):
    """One JVM-side percent-decode of a path component ('+' preserved;
    malformed input — impossible for writer-produced paths — falls back
    to the raw string rather than nulling the partition value)."""
    masked = F.replace(col, F.lit("+"), F.lit("%2B"))
    return F.coalesce(F.try_url_decode(masked), col)


def _unescape_pval_col(col):
    """JVM-side restore of a TRUE partition value from an
    ``input_file_name()``-extracted path component: URI decode first,
    then the Hive path unescape (scalar expressions, no UDF in the
    scan)."""
    return _decode_pct_col(_decode_pct_col(col))


def _unq(s: str) -> str:
    """Python-side Hive path unescape (≡ URL %XX decode) for comparing
    caller-supplied TRUE partition values against escaped manifest keys."""
    from urllib.parse import unquote

    return unquote(s)


def _check_retired_key_misuse(
    wanted: set[str],
    manifest_partitions: dict,
    op: str,
    allow: frozenset[str] = frozenset(),
) -> None:
    """Loud failure for the retired escaped-key convention, applied by
    EVERY user-value selection site (read/compact/overwrite — the r12
    review found the guard only on overwrite, leaving the read paths to
    silently select nothing for the same caller mistake).  A wanted value
    that matches no live TRUE value but IS verbatim a live manifest key of
    a DIFFERENT true value is overwhelmingly a pre-r12 caller passing
    escaped keys; acting on it would silently skip (read: zero rows,
    compact: no-op) or, under the old dual-match, hit the WRONG
    partition.  ``allow`` exempts values the caller is actively writing
    (overwrite's staged TRUE values): creating a new partition whose
    literal value collides with another partition's escaped key is
    legitimate and must not raise (r12 review finding #2)."""
    true_vals = {_unq(k) for k in manifest_partitions}
    suspicious = sorted(
        v
        for v in wanted
        if v not in true_vals
        and v not in allow
        and v in manifest_partitions
        and _unq(v) != v
    )
    if suspicious:
        raise ValueError(
            f"{op}: partition value(s) {suspicious} match no live TRUE "
            "partition value but are verbatim manifest keys of other "
            "partitions (this API takes TRUE, unescaped values — the "
            "escaped-key convention is retired).  If you meant the "
            "partition(s) whose escaped key this is, pass the true "
            f"value(s) {sorted(_unq(v) for v in suspicious)}; if you meant "
            "the literal string, no such partition exists in this version."
        )


class ConcurrentCommit(RuntimeError):
    """Another writer claimed this version first (manifest CAS failed)."""


class NoSuchVersion(ValueError):
    pass


class ConstraintViolation(ValueError):
    """A write's rows break a generated column's implicit CHECK; nothing
    committed."""


class ProtocolVersionError(RuntimeError):
    """The table requires a newer reader/writer than this build supports —
    refusing beats silently misreading a future manifest format."""


class LogStore:
    """The commit-protocol seam (Delta's LogStore recipe): mtable's entire
    ACID story rests on ONE storage primitive — atomically create the
    manifest object only if no object exists at that path.  Implementations
    return ``True`` when this writer created the object, ``False`` when the
    path already existed (a lost CAS — the caller raises
    :class:`ConcurrentCommit` and retries on a fresh base), and re-raise
    any other storage failure as itself (a transient IO error must never
    masquerade as a benign race)."""

    def put_if_absent(self, spark: SparkSession, path: str, data: bytes) -> bool:
        raise NotImplementedError


class HadoopLogStore(LogStore):
    """Default: ``FileSystem.create(overwrite=false)`` IS put-if-absent on
    HDFS, local POSIX (O_EXCL), and ABFS — the stores where Hadoop's
    create is atomic.  Do not use on S3A: S3A's create only checks
    existence BEFORE the write, so two racers can both 'succeed'; plug an
    S3 conditional PUT (``If-None-Match: *``) store in through the
    :class:`LogStore` seam there."""

    def put_if_absent(self, spark: SparkSession, path: str, data: bytes) -> bool:
        fs, jvm = _fs(spark, path)
        p = _jpath(jvm, path)
        try:
            out = fs.create(p, False)  # overwrite=False: compare-and-swap
        except Exception as e:  # py4j wraps the Java exception
            # Only a lost CAS reports False; a transient IO/permission
            # failure must surface as itself (callers may retry a lost CAS
            # on a fresh base).  The Java class name is authoritative;
            # fs.exists is the fallback probe when the wrapper hides it
            # (ADVICE r8).
            jexc = getattr(e, "java_exception", None)
            lost_cas = (
                jexc is not None
                and "AlreadyExists" in jexc.getClass().getName()
            ) or fs.exists(p)
            if not lost_cas:
                raise
            return False
        try:
            out.write(data)
        finally:
            out.close()
        return True


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _jpath(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path)


class MTable:
    """Handle to one manifest-committed table rooted at ``path`` (any
    Hadoop-visible URI or local path)."""

    #: every Nth version in a delta chain is written as a FULL manifest
    #: (complete partition/stats map); the K-1 in between carry only the
    #: touched partitions' entries.  Bounds both the per-commit manifest
    #: size at streaming cadence (O(touched partitions), not O(table
    #: files)) and the reconstruction walk (<= K raw reads, cached).
    checkpoint_interval: int = 8

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        checkpoint_interval: int | None = None,
        log_store: LogStore | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        if checkpoint_interval is not None:
            if checkpoint_interval < 1:
                raise ValueError("checkpoint_interval must be >= 1")
            self.checkpoint_interval = checkpoint_interval
        # commit-protocol seam: default is Hadoop create-if-absent; pass
        # another LogStore for stores where Hadoop's create is not atomic
        self.log_store: LogStore = log_store or HadoopLogStore()
        self._state_cache: dict[int, dict] = {}

    # -- manifest plumbing --------------------------------------------------

    def _abs(self, rel: str) -> str:
        """Manifest file reference -> plannable path.  References are
        normally table-relative; absolute / scheme-qualified entries (the
        ``_metadata.file_path`` URIs deletion vectors are matched through)
        pass through untouched.  Every read-side expansion goes through
        here; vacuum never does (it walks only this table's own data/
        directory)."""
        head = rel.split("/", 1)[0]
        if rel.startswith("/") or ":" in head:
            # absolute, or scheme-qualified in either URI form (s3a://…
            # AND the single-slash file:/… that _metadata.file_path
            # yields); table-relative refs always start "data/"
            return rel
        return f"{self.path}/{rel}"

    def _manifest_path(self, version: int) -> str:
        return f"{self.path}/{_MANIFEST_DIR}/v{version:010d}.json"

    def _checkpoint_path(self, version: int) -> str:
        # "c" prefix keeps checkpoints OUT of versions()' "v*.json" match:
        # they are reconstruction bases, not commits
        return f"{self.path}/{_MANIFEST_DIR}/c{version:010d}.json"

    def _hint_path(self) -> str:
        return f"{self.path}/{_MANIFEST_DIR}/_latest_hint"

    def versions(self) -> list[int]:
        fs, jvm = _fs(self.spark, self.path)
        mdir = _jpath(jvm, f"{self.path}/{_MANIFEST_DIR}")
        if not fs.exists(mdir):
            return []
        out = []
        for st in fs.listStatus(mdir):
            name = st.getPath().getName()
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def _read_json(self, path: str) -> dict | None:
        fs, jvm = _fs(self.spark, self.path)
        p = _jpath(jvm, path)
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            # commons-io ships with Hadoop; py4j returns byte[] as bytes.
            # (A Python-side bytearray buffer would NOT work: py4j passes
            # arrays by value, so Java-side writes never propagate back.)
            data = bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()
        return json.loads(data.decode("utf-8"))

    def _read_manifest_raw(self, version: int) -> dict:
        """The manifest JSON exactly as committed — a FULL manifest (carries
        ``partitions``/``stats``) or a DELTA one (carries ``delta`` with only
        the touched partitions' entries).  ``meta``/``operation``/
        ``committed_at_ms`` live top-level in both forms, so replay probes and
        history readers use this O(1)-size read."""
        m = self._read_json(self._manifest_path(version))
        if m is None:
            raise NoSuchVersion(f"{self.path} has no version {version}")
        need = int(m.get("min_reader_version", 1))
        if need > _READER_VERSION:
            raise ProtocolVersionError(
                f"{self.path} version {version} requires reader protocol "
                f"{need}; this build supports {_READER_VERSION} — upgrade "
                "before reading (a silent misread could return wrong rows)"
            )
        return m

    def _read_manifest(self, version: int) -> dict:
        """The COMPLETE state of ``version`` (partition map + stats),
        reconstructing delta manifests against their nearest full
        base/checkpoint.  Reconstruction cost is bounded by
        ``checkpoint_interval`` raw reads and cached per handle; callers
        must treat the returned dict as read-only (every write path copies
        before mutating)."""
        cached = self._state_cache.get(version)
        if cached is not None:
            return cached
        m = self._read_manifest_raw(version)
        if "delta" not in m:
            state = m
        else:
            ck = self._read_json(self._checkpoint_path(version))
            if ck is not None:
                state = ck  # vacuum materialized this version's full state
            else:
                parent = self._read_manifest(m["parent"])
                parts = {k: list(f) for k, f in parent["partitions"].items()}
                d = m["delta"]
                for pv in d.get("partitions_dropped", ()):
                    parts.pop(pv, None)
                for pv, files in (d.get("partitions_set") or {}).items():
                    parts[pv] = list(files)
                stats = dict(parent.get("stats") or {})
                stats.update(d.get("stats_set") or {})
                live = {rel for fl in parts.values() for rel in fl}
                stats = {rel: e for rel, e in stats.items() if rel in live}
                state = {k: v for k, v in m.items() if k != "delta"}
                state["partitions"] = parts
                state["stats"] = stats
        self._state_cache[version] = state
        while len(self._state_cache) > 16:
            self._state_cache.pop(next(iter(self._state_cache)))
        return state

    def _commit(self, manifest: dict, version: int) -> int:
        """CAS-create the manifest object for ``version`` (the commit
        point).  create(overwrite=false) raises if the object exists —
        exactly one writer wins a version."""
        # protocol gate: the PARENT's stamped writer requirement governs
        # whether this build may commit on top of it; the new manifest
        # carries the requirement forward (max with this build's own), so
        # a table a future writer touched keeps refusing old writers even
        # through old-writer-readable versions
        parent_v = manifest.get("parent")
        need_w, need_r = _WRITER_VERSION, _READER_VERSION
        if parent_v is not None:
            pm = self._read_manifest_raw(parent_v)
            need_w = max(need_w, int(pm.get("min_writer_version", 1)))
            need_r = max(need_r, int(pm.get("min_reader_version", 1)))
            if need_w > _WRITER_VERSION:
                raise ProtocolVersionError(
                    f"{self.path} requires writer protocol {need_w}; this "
                    f"build supports {_WRITER_VERSION} — refusing to commit "
                    "(an old writer could break invariants a newer feature "
                    "relies on)"
                )
        manifest.setdefault("min_reader_version", need_r)
        manifest.setdefault("min_writer_version", need_w)
        fs, jvm = _fs(self.spark, self.path)
        fs.mkdirs(_jpath(jvm, f"{self.path}/{_MANIFEST_DIR}"))
        # the commit point: put-if-absent through the LogStore seam —
        # exactly one writer wins a version on any store whose
        # put_if_absent is atomic (see LogStore)
        won = self.log_store.put_if_absent(
            self.spark,
            self._manifest_path(version),
            json.dumps(manifest, sort_keys=True).encode("utf-8"),
        )
        if not won:
            raise ConcurrentCommit(
                f"version {version} of {self.path} already committed"
            )
        # best-effort latest-version HINT: one small overwrite after the
        # CAS, so _latest() resolves in O(1 + staleness) fs.exists probes
        # instead of an O(versions) directory listing (VERDICT r9 missing
        # #3).  Purely advisory — a crashed/raced/garbled hint only costs
        # the probe-forward or the listing fallback, never correctness.
        try:
            hp = _jpath(jvm, self._hint_path())
            ho = fs.create(hp, True)
            try:
                ho.write(str(version).encode("utf-8"))
            finally:
                ho.close()
        except Exception:  # noqa: BLE001 — advisory only
            pass
        return version

    def _commit_state(
        self, state: dict, version: int, parent_state: dict | None
    ) -> int:
        """Commit ``state`` (the version's COMPLETE partition/stats map) as
        either a FULL manifest or a DELTA against ``parent_state``.

        Delta form: only the partitions whose file lists changed (set or
        dropped) and the stats entries of newly staged files — O(touched
        partitions) JSON per commit, the streaming-cadence requirement at
        100 TB table sizes.  Every ``checkpoint_interval``-th version in a
        chain (and every overwrite, and v1) is full, bounding the
        reconstruction walk.  The CAS commit point is unchanged."""
        pdist = int((parent_state or {}).get("full_distance", 0))
        full = (
            parent_state is None
            or state.get("operation") == "overwrite"
            # a respec renames every partition key (current -> legacy
            # namespace): as a delta it would carry the whole map anyway
            or state.get("operation") == "repartition_table"
            or pdist + 1 >= self.checkpoint_interval
        )
        if full:
            raw = dict(state)
            raw["full_distance"] = 0
        else:
            old_parts = parent_state["partitions"]
            new_parts = state["partitions"]
            old_stats = parent_state.get("stats") or {}
            new_stats = state.get("stats") or {}
            delta = {
                "partitions_set": {
                    pv: files
                    for pv, files in new_parts.items()
                    if old_parts.get(pv) != files
                },
                "partitions_dropped": sorted(
                    pv for pv in old_parts if pv not in new_parts
                ),
                "stats_set": {
                    rel: ent
                    for rel, ent in new_stats.items()
                    if old_stats.get(rel) is not ent and old_stats.get(rel) != ent
                },
            }
            raw = {
                k: v for k, v in state.items() if k not in ("partitions", "stats")
            }
            raw["full_distance"] = pdist + 1
            raw["delta"] = delta
        v = self._commit(raw, version)
        cached = dict(state)
        cached["full_distance"] = raw["full_distance"]
        self._state_cache[version] = cached
        return v

    def _commit_rebase(
        self,
        build_manifest,
        v0: int,
        m0: dict,
        touched: set[str],
        retries: int = 5,
    ) -> int:
        """Commit with automatic OCC rebase-and-retry (VERDICT r9 #6).

        ``build_manifest(vb, mb)`` must return the manifest for the writer's
        change applied on base ``mb`` — the change itself was COMPUTED
        against ``m0`` and only reads/replaces the partitions in
        ``touched``.  A lost CAS is rebased iff the racing commits left
        every touched partition's file list exactly as ``m0`` had it and
        did not change the schema/evolution state — then replaying the
        replacement on the new base is bit-equivalent to having computed it
        there (the common streaming-commit + compaction interleave: both
        land, serialized).  Any overlap surfaces the original
        :class:`ConcurrentCommit` for the caller's recompute-and-retry."""
        vb, mb = v0, m0
        for attempt in range(max(retries, 1)):
            try:
                return self._commit_state(build_manifest(vb, mb), vb + 1, mb)
            except ConcurrentCommit:
                if attempt == max(retries, 1) - 1:
                    raise
                cur = self._latest()
                assert cur is not None  # someone committed: latest exists
                v1, m1 = cur
                if v1 == vb:  # our own CAS loss with no newer manifest?!
                    raise
                conflicting = (
                    m1["schema"] != m0["schema"]
                    or bool(m1.get("evolved")) != bool(m0.get("evolved"))
                    or bool(m1.get("widened")) != bool(m0.get("widened"))
                    # a racing RENAME/DROP COLUMN changed the logical<->
                    # physical contract the staged files were written under
                    or (m1.get("mapping") or {}) != (m0.get("mapping") or {})
                    or list(m1.get("dropped") or ()) != list(m0.get("dropped") or ())
                    # a racing RESPEC changed the layout the staged files
                    # were partitioned under
                    or (m1.get("partition_by") or None) != (m0.get("partition_by") or None)
                    or (m1.get("partition_type") or None) != (m0.get("partition_type") or None)
                    # a racing generated-column change alters what the
                    # staged rows should have derived/validated
                    or (m1.get("generated") or {}) != (m0.get("generated") or {})
                    or any(
                        m1["partitions"].get(pv) != m0["partitions"].get(pv)
                        for pv in touched
                    )
                )
                if conflicting:
                    raise
                vb, mb = v1, m1
        raise AssertionError("unreachable")

    def _latest_version(self) -> int | None:
        """Latest committed version in O(1 + staleness): read the advisory
        hint, verify it, probe forward past any commits newer than the
        hint write; fall back to the directory listing when the hint is
        absent/garbled (or the table predates it)."""
        fs, jvm = _fs(self.spark, self.path)
        try:
            hp = _jpath(jvm, self._hint_path())
            if fs.exists(hp):
                stream = fs.open(hp)
                try:
                    data = bytes(
                        jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
                    )
                finally:
                    stream.close()
                hint = int(data.decode("utf-8").strip())
                if hint >= 1 and fs.exists(_jpath(jvm, self._manifest_path(hint))):
                    v = hint
                    while fs.exists(_jpath(jvm, self._manifest_path(v + 1))):
                        v += 1
                    return v
        except Exception:  # noqa: BLE001 — advisory only; listing is truth
            pass
        vs = self.versions()
        return vs[-1] if vs else None

    def _latest(self) -> tuple[int, dict] | None:
        v = self._latest_version()
        if v is None:
            return None
        return v, self._read_manifest(v)

    # -- write paths --------------------------------------------------------

    def _stage_files(
        self, df: DataFrame, partition_by: str | None
    ) -> dict[str, list[str]]:
        """Write ``df``'s parquet files under data/ (invisible until a
        manifest references them) and return {partition_value: [paths]}
        (single key "" when unpartitioned).  Staging reuses Spark's own
        parquet writer into a unique scratch prefix, then the files are
        indexed — never listed again by readers."""
        token = uuid.uuid4().hex
        stage = f"{self.path}/{_DATA_DIR}/_stage_{token}"
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(stage)
        fs, jvm = _fs(self.spark, self.path)
        out: dict[str, list[str]] = {}
        stage_p = _jpath(jvm, stage)
        if partition_by:
            for pdir in fs.listStatus(stage_p):
                pname = pdir.getPath().getName()
                if not pname.startswith(f"{partition_by}="):
                    continue
                pval = pname.split("=", 1)[1]
                files = []
                fs.mkdirs(_jpath(jvm, f"{self.path}/{_DATA_DIR}/{pname}"))
                for f in fs.listStatus(pdir.getPath()):
                    nm = f.getPath().getName()
                    if nm.startswith(("_", ".")):
                        continue
                    # publish name: move OUT of the stage dir so vacuum of
                    # abandoned stages never races committed files
                    dst = f"{self.path}/{_DATA_DIR}/{pname}/{token}-{nm}"
                    fs.rename(f.getPath(), _jpath(jvm, dst))
                    files.append(dst[len(self.path) + 1 :])
                if files:
                    out[pval] = sorted(files)
        else:
            files = []
            for f in fs.listStatus(stage_p):
                nm = f.getPath().getName()
                if nm.startswith(("_", ".")):
                    continue
                dst = f"{self.path}/{_DATA_DIR}/{token}-{nm}"
                fs.rename(f.getPath(), _jpath(jvm, dst))
                files.append(dst[len(self.path) + 1 :])
            out[""] = sorted(files)
        fs.delete(stage_p, True)
        return out

    def _collect_file_stats(
        self,
        staged: dict[str, list[str]],
        stats_cols: list[str],
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 4096,
    ) -> dict[str, dict]:
        """Per-file min/max/null-count for ``stats_cols`` — and, for
        ``bloom_cols``, a per-file BLOOM FILTER of the column's values —
        over the files just staged: ONE scan grouped by
        ``input_file_name()`` (the files are page-cache-hot from the
        write), O(files x cols) driver state.

        Blooms serve EQUALITY probes that min/max cannot: a point lookup
        on a key uncorrelated with the file layout has every file's
        [min, max] straddling it, but only the files whose bloom contains
        the key need opening.  Build: 4 md5-derived bit positions per
        value (Kirsch-Mitzenmacher style, same determinism family as the
        minhash/KMV hashes), OR-ed into ``bloom_bits`` bits as
        ``bloom_bits/64`` per-file ``bit_or`` aggregates — pure Column
        expressions in the same single stats scan.  False positives only
        ever cost IO; false negatives are impossible for the exact string
        representation the build hashed (``CAST(col AS STRING)``) — the
        python probe replays the identical md5 arithmetic.

        Returns ``{relpath: {col: {"mn": v, "mx": v, "nulls": n[, "bf":
        {"m": bits, "x": hex}]}}}``."""
        rels = [rel for files in staged.values() for rel in files]
        bloom_cols = list(bloom_cols or [])
        if not rels or not (stats_cols or bloom_cols):
            return {}
        df = self.spark.read.parquet(*[self._abs(rel) for rel in rels])
        cols = [c for c in stats_cols if c in df.columns]
        bcols = [c for c in bloom_cols if c in df.columns]
        if not cols and not bcols:
            return {}
        nwords = max(bloom_bits, 64) // 64
        # record each bloom'd column's Spark type so probe-time key
        # rendering can refuse types whose python str() provably differs
        # from Spark's CAST-to-string (e.g. int probe vs DOUBLE column
        # renders "7" vs "7.0" -> bloom FALSE NEGATIVE -> silent row loss)
        btypes = {c: df.schema[c].dataType.simpleString() for c in bcols}
        proj = [F.input_file_name().alias("__f"), "*"]
        for ci, c in enumerate(bcols):
            for j in range(4):
                proj.append(
                    F.pmod(
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(
                                        F.lit(f"bf{j}#"), F.col(c).cast("string")
                                    )
                                ),
                                1,
                                8,
                            ),
                            16,
                            10,
                        ).cast("long"),
                        F.lit(nwords * 64),
                    ).alias(f"__p{ci}_{j}")
                )
        df = df.select(*proj)
        # word arrays via a SQL lambda (python shiftleft takes only literal
        # shift counts): for word w, OR the 4 hash masks that land in it.
        # NULL values hash to NULL positions -> IF NULL-guards to 0: nulls
        # set no bits.
        for ci in range(len(bcols)):
            term = " | ".join(
                f"IF(shiftright(__p{ci}_{j}, 6) = w, "
                f"shiftleft(CAST(1 AS BIGINT), CAST(__p{ci}_{j} & 63 AS INT)), "
                f"CAST(0 AS BIGINT))"
                for j in range(4)
            )
            df = df.withColumn(
                f"__bw{ci}",
                F.expr(f"transform(sequence(0, {nwords - 1}), w -> ({term}))"),
            )
        # per-file rowcount rides the same scan: exact table row counts
        # (describe) and size-aware maintenance without ever scanning data
        aggs = [F.count(F.lit(1)).alias("__cnt")]
        for i, c in enumerate(cols):
            aggs += [
                F.min(c).alias(f"__mn{i}"),
                F.max(c).alias(f"__mx{i}"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nl{i}"),
            ]
        for ci in range(len(bcols)):
            aggs += [
                F.bit_or(F.element_at(f"__bw{ci}", w + 1)).alias(f"__bf{ci}_{w}")
                for w in range(nwords)
            ]
        rows = df.groupBy("__f").agg(*aggs).collect()
        # input_file_name is a URI; match manifest relpaths by their last
        # TWO components (partition dir + filename).  Filename alone is
        # NOT unique: a multi-task write emits the same part-<task>-<job>
        # basename into EVERY partition dir it touches, and a basename
        # keyed map silently attached one file's stats to another —
        # data skipping then pruned live files (caught by the
        # events_zorder_pruned_scan oracle hash).
        by_suffix = {"/".join(rel.split("/")[-2:]): rel for rel in rels}
        out: dict[str, dict] = {}
        for r in rows:
            rel = by_suffix.get("/".join(str(r["__f"]).split("/")[-2:]))
            if rel is None:
                continue
            ent = {
                c: {
                    "mn": _json_scalar(r[f"__mn{i}"]),
                    "mx": _json_scalar(r[f"__mx{i}"]),
                    "nulls": int(r[f"__nl{i}"] or 0),
                }
                for i, c in enumerate(cols)
            }
            # "#" is not a column name: the file's rowcount entry, skipped
            # by every per-column consumer (they key on "mn"/"bf")
            ent["#"] = {"n": int(r["__cnt"])}
            for ci, c in enumerate(bcols):
                hexs = "".join(
                    f"{(r[f'__bf{ci}_{w}'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}"
                    for w in range(nwords)
                )
                ent.setdefault(c, {})["bf"] = {
                    "m": nwords * 64,
                    "x": hexs,
                    "t": btypes[c],
                }
            out[rel] = ent
        return out

    def _schema_fingerprint(self, df: DataFrame, partition_by: str | None) -> str:
        cols = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.name != partition_by
        ]
        return ";".join(sorted(cols))

    @staticmethod
    def _parse_schema(fp: str) -> dict[str, str]:
        """Fingerprint -> {column: simpleString type} (the fingerprint IS
        the schema: sorted name:type pairs)."""
        out: dict[str, str] = {}
        for ent in fp.split(";"):
            if ent:
                name, typ = ent.split(":", 1)
                out[name] = typ
        return out

    def _evolve_schema(
        self, old_fp: str, new_fp: str, allow: bool, allow_widening: bool = False
    ) -> tuple[str, bool]:
        """Validate a schema change between commits; returns ``(resulting
        fingerprint, widening_happened)``.  Identical -> old.  ADDITIVE
        superset (every existing column present with the identical type,
        plus new ones) with ``allow_evolution=True`` -> the new
        fingerprint.  With ``allow_widening=True``, per-column TYPE
        WIDENING is also accepted in either direction — the incoming frame
        may widen the table's type (int -> bigint, float -> double, the
        manifest takes the wide type) or be narrower than an already-
        widened table (the manifest keeps the wide type); files stay
        byte-identical and reads resolve the width via an explicit
        manifest schema (``_widens``).  Anything else (drop, non-widening
        retype, rename) raises — a full rewrite is the sanctioned path,
        same stance as Delta without overwriteSchema (rename/drop have
        their own metadata path: column mapping)."""
        if new_fp == old_fp:
            return old_fp, False
        old, new = self._parse_schema(old_fp), self._parse_schema(new_fp)
        changed = {c: (old[c], new[c]) for c in old if c in new and old[c] != new[c]}
        missing = sorted(set(old) - set(new))
        widen = {
            c: p
            for c, p in changed.items()
            if _widens(p[0], p[1]) or _widens(p[1], p[0])
        }
        bad = {c: p for c, p in changed.items() if c not in widen}
        if missing or bad:
            raise ValueError(
                f"schema mismatch is not additive: missing={missing} "
                f"retyped={bad} (evolution only ADDS columns; integer/"
                "float/decimal UP-casts need allow_widening=True)"
            )
        if widen and not allow_widening:
            raise ValueError(
                f"schema widens column types {widen}; pass "
                "allow_widening=True to accept the up-cast without a rewrite"
            )
        added = sorted(set(new) - set(old))
        if added and not allow:
            raise ValueError(
                f"schema adds columns {added}; pass "
                "allow_evolution=True to evolve the table additively"
            )
        if not widen:
            return new_fp, False
        # per column, the WIDER of the two types wins the manifest
        result = dict(old)
        for c, t in new.items():
            result[c] = (
                t if c not in result or _widens(result[c], t) else result[c]
            )
        fp = ";".join(sorted(f"{c}:{t}" for c, t in result.items()))
        return fp, True

    # -- column mapping (logical <-> physical names) -------------------------
    #
    # Files carry PHYSICAL column names, fixed at first write; the manifest's
    # ``mapping`` ({logical: physical}, entries only where they differ) and
    # ``dropped`` (retired physical names) make RENAME and DROP COLUMN
    # metadata-only commits — the Delta column-mapping (name mode) shape.
    # ``read()`` and the change feed are the logical boundary (physical scan
    # -> _logical_view); every write path maps back at staging
    # (_physical_input).  Physical state (schema fingerprint, stats/bloom
    # keys, partition directory names) never changes under a rename, so data
    # skipping, DVs, and the feed's per-file algebra are rename-oblivious.
    # A full overwrite replaces every file and RESETS both fields (logical
    # names become the physical reality again), same re-homogenization rule
    # as the ``evolved`` flag.

    def _p(self, m: dict | None, name: str) -> str:
        """Physical name of logical column ``name`` (identity unless
        renamed)."""
        return ((m or {}).get("mapping") or {}).get(name, name)

    @staticmethod
    def _inv(m: dict | None) -> dict[str, str]:
        """physical -> logical for the renamed columns of manifest ``m``."""
        return {p: l for l, p in ((m or {}).get("mapping") or {}).items()}

    def _logical_view(self, df: DataFrame, m: dict | None) -> DataFrame:
        """Present a PHYSICAL-named frame under the table's LOGICAL names:
        retired (``dropped``) physical columns vanish — Catalyst then never
        even decodes them from the files — renamed ones take their logical
        alias, everything else (including internal ``__dv*`` helpers) passes
        through.  No-op for tables that never renamed or dropped."""
        if m is None:
            return df
        mp = m.get("mapping") or {}
        retired = set(m.get("dropped") or ())
        if not mp and not retired:
            return df
        inv = {p: l for l, p in mp.items()}
        return df.select(
            *[
                F.col(c).alias(inv[c]) if c in inv else F.col(c)
                for c in df.columns
                if c not in retired
            ]
        )

    def _physical_input(
        self, df: DataFrame, m: dict | None
    ) -> tuple[DataFrame, dict[str, str]]:
        """Rename a LOGICAL-named input frame to the table's PHYSICAL names
        for staging.  A NEW logical column (additive evolution) takes its own
        name as physical unless that name is already spoken for — retired by
        a DROP, or serving as a live column's physical — in which case it
        gets a fresh suffixed physical name (recorded in the returned
        mapping) so the old bytes in existing files can never resurrect
        through the new column.  Returns ``(physical df, updated mapping)``;
        no-op ``(df, {})`` for tables that never renamed or dropped."""
        if m is None:
            return df, {}
        mp = dict(m.get("mapping") or {})
        retired = set(m.get("dropped") or ())
        if not mp and not retired:
            return df, mp
        phys = set(self._parse_schema(m["schema"]))
        if m.get("partition_by"):
            phys.add(m["partition_by"])
        inv = {p: l for l, p in mp.items()}
        live = {inv.get(p, p) for p in phys}
        taken = phys | retired | set(mp.values())
        sel = []
        for c in df.columns:
            if c in mp:
                sel.append(F.col(c).alias(mp[c]))
            elif c in live:
                sel.append(F.col(c))
            else:
                pn = c
                if pn in taken:
                    pn = f"{c}_{uuid.uuid4().hex[:8]}"
                    mp[c] = pn
                sel.append(F.col(c).alias(pn) if pn != c else F.col(c))
        return df.select(*sel), mp

    def _logical_pby(self, m: dict | None) -> str | None:
        pby = (m or {}).get("partition_by")
        return self._inv(m).get(pby, pby) if pby else pby

    @staticmethod
    def _has_legacy(m: dict) -> bool:
        return any(_SPEC_SEP in k for k in m.get("partitions") or {})

    @staticmethod
    def _legacy_pbys(m: dict) -> list[str]:
        """Old partition columns still carried as legacy-spec entries in
        ``m["partitions"]`` (files laid out under a retired spec)."""
        out: list[str] = []
        for k in m.get("partitions") or {}:
            if _SPEC_SEP in k:
                p = k.split(_SPEC_SEP, 1)[0]
                if p and p not in out:
                    out.append(p)
        return out

    def _restore_partition_cols(self, df: DataFrame, m: dict) -> DataFrame:
        """Restore every partition-carried column of a (possibly
        mixed-spec) scan: the CURRENT spec's column lives in the path for
        files written under it and as DATA in legacy files; each retired
        spec's column lives in its files' paths and as data in newer
        files.  One ``when(path-derived, else data)`` per column covers
        both populations; the current column casts to the recorded
        ``partition_type`` (a respec'd-from typed column), everything
        else is the path-string convention."""
        pby = m["partition_by"]
        ptype = m.get("partition_type") or "string"
        # a retired partition column's TRUE type is recorded in the data
        # schema by repartition_table (phys[old_p] = partition_type of its
        # own spec) — cast the path-derived branch to it, or the
        # when(path-string).otherwise(typed-data) coercion silently widens
        # the column (int data + string path -> bigint) and read() diverges
        # from the manifest schema (ADVICE r10 #2)
        schema_types = dict(self._parse_schema(m["schema"]))
        cols = ([(pby, ptype)] if pby else []) + [
            (p, schema_types.get(p, "string"))
            for p in self._legacy_pbys(m)
            if p != pby
        ]
        for col, typ in cols:
            ex = F.regexp_extract(F.input_file_name(), f"{col}=([^/]+)/", 1)
            val = _unescape_pval_col(ex)
            if typ != "string":
                val = val.cast(typ)
            if col in df.columns:
                df = df.withColumn(
                    col, F.when(ex != "", val).otherwise(F.col(col))
                )
            else:
                df = df.withColumn(col, val)
        return df

    def _scan_files(self, m: dict, rels: list[str]) -> DataFrame:
        """Scan ``rels`` under manifest ``m``'s PHYSICAL schema contract.

        A WIDENED table (type widening accepted without rewrite) reads
        under the manifest's explicit schema — Spark's parquet reader
        up-casts each file's narrower physical type in the scan itself
        (int->bigint, float->double, decimal precision), which mergeSchema
        refuses to reconcile; the explicit schema also null-fills columns
        a file predates, so it subsumes the evolved path.  A RESPEC'd
        table (partition spec evolution) likewise needs the explicit
        schema: the current partition column is DATA in legacy files but
        absent from new files' footers (and vice versa for retired
        columns), so footer sampling could drop either.  Non-widened,
        single-spec tables keep the original footer/mergeSchema strategy
        (identical plans and column order to the pre-widening code)."""
        legacy = self._has_legacy(m)
        if m.get("widened") or legacy:
            schema = dict(self._parse_schema(m["schema"]))
            if m["partition_by"] and legacy:
                # current spec's column is data in legacy files: scan it
                schema.setdefault(
                    m["partition_by"], m.get("partition_type") or "string"
                )
            ddl = ", ".join(f"`{c}` {t}" for c, t in schema.items())
            return self.spark.read.schema(ddl).parquet(
                *[self._abs(rel) for rel in rels]
            )
        reader = self.spark.read
        if m.get("evolved"):
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*[self._abs(rel) for rel in rels])
        if m.get("evolved"):
            for name, typ in self._parse_schema(m["schema"]).items():
                if name not in df.columns:
                    df = df.withColumn(name, F.lit(None).cast(typ))
        return df

    def _constraints_must_resolve(
        self,
        m0: dict,
        mapping: dict[str, str],
        dropped,
        cons: dict[str, str],
        changed: str,
    ) -> None:
        """Refuse a rename/drop that would break a generated column's
        implicit CHECK (driver-side analysis against the post-change
        logical schema, no job) — the Delta stance: drop the declaration
        first."""
        if not cons:
            return
        inv = {p: l for l, p in mapping.items()}
        retired = set(dropped or ())
        fields = [
            f"`{inv.get(c, c)}` {t}"
            for c, t in self._parse_schema(m0["schema"]).items()
            if c not in retired
        ]
        if m0["partition_by"]:
            pl = inv.get(m0["partition_by"], m0["partition_by"])
            pt = m0.get("partition_type") or "string"
            fields.append(f"`{pl}` {pt}")
        probe = self.spark.createDataFrame([], ", ".join(fields))
        for name, expr in sorted(cons.items()):
            try:
                probe.select(F.expr(expr).cast("boolean"))
            except Exception as e:  # noqa: BLE001 — analysis failure = ref
                raise ValueError(
                    f"column {changed!r} is referenced by CHECK constraint "
                    f"{name!r} ({expr!r}); it cannot resolve under the new "
                    "schema"
                ) from e

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN without rewriting a byte (the Delta
        column-mapping shape; reference contrast: a pandas ``df.rename``
        rewrites the whole dataset on the next save,
        ``jobs/ingest_xlsx_to_parquet.py:14-24``): files keep their physical
        column names, the manifest's mapping takes the new logical name, and
        the commit is O(manifest) metadata.  Snapshot-isolated and
        time-travel-faithful — ``read(version=...)`` presents each version
        under ITS OWN names.  Stats, blooms, deletion vectors and the
        partition layout are keyed physically, so data skipping and DML
        pruning keep working across the rename.  Refused while a generated
        column's expression references ``old``; the partition column may be
        renamed (directory names stay physical — values, and therefore
        pruning, are unaffected)."""
        cur = self._latest()
        if cur is None:
            raise NoSuchVersion("rename_column needs a committed table")
        v0, m0 = cur
        mp = dict(m0.get("mapping") or {})
        inv = {p: l for l, p in mp.items()}
        live = {
            inv.get(p, p) for p in self._parse_schema(m0["schema"])
        }
        pby_l = self._logical_pby(m0)
        if pby_l:
            live.add(pby_l)
        if old not in live:
            raise ValueError(f"no column {old!r} (live columns: {sorted(live)})")
        if new in live:
            raise ValueError(f"column {new!r} already exists")
        if not new or any(ch in new for ch in ";:`,"):
            raise ValueError(f"invalid column name {new!r}")
        p = mp.pop(old, old)
        if p != new:
            mp[new] = p
        # a renamed GENERATED column keeps its declaration under the new
        # name; renaming one of a declaration's SOURCE columns breaks its
        # expression and is refused (resolution check below)
        gen = dict(m0.get("generated") or {})
        if old in gen:
            gen[new] = gen.pop(old)
        self._constraints_must_resolve(
            m0, mp, m0.get("dropped") or [], self._gen_constraints(gen), old
        )
        return self._commit_meta_change(
            v0,
            m0,
            "rename_column",
            mapping=mp,
            meta={"renamed": [old, new]},
            generated=gen,
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN without rewriting a byte: the physical
        column is RETIRED — removed from the manifest schema and recorded in
        ``dropped``, so reads stop projecting it (Catalyst never decodes the
        bytes again; dropping a wide blob column pays off on the very next
        scan), old snapshots still time-travel to it until vacuum retires
        their manifests, and a later re-add of the same logical name (an
        ``allow_evolution=True`` append) is assigned a FRESH physical name so
        the retired bytes can never resurrect.  Refused for the partition
        column and while a generated column's expression references it."""
        cur = self._latest()
        if cur is None:
            raise NoSuchVersion("drop_column needs a committed table")
        v0, m0 = cur
        mp = dict(m0.get("mapping") or {})
        inv = {p: l for l, p in mp.items()}
        phys = self._parse_schema(m0["schema"])
        live = {inv.get(p, p) for p in phys}
        pby_l = self._logical_pby(m0)
        if name == pby_l:
            raise ValueError(f"cannot drop the partition column {name!r}")
        if name not in live:
            raise ValueError(f"no column {name!r} (live columns: {sorted(live)})")
        p = mp.pop(name, name)
        dropped = sorted(set(m0.get("dropped") or ()) | {p})
        schema = ";".join(
            sorted(f"{c}:{t}" for c, t in phys.items() if c != p)
        )
        # dropping a generated column drops its declaration with it;
        # dropping one of a declaration's SOURCE columns is refused
        # (resolution check over the remaining declarations)
        gen = dict(m0.get("generated") or {})
        gen.pop(name, None)
        self._constraints_must_resolve(
            m0, mp, dropped, self._gen_constraints(gen), name
        )
        return self._commit_meta_change(
            v0,
            m0,
            "drop_column",
            mapping=mp,
            dropped=dropped,
            schema=schema,
            meta={"dropped_column": name},
            generated=gen,
        )

    # -- generated columns ---------------------------------------------------

    @staticmethod
    def _gen_constraints(gen: dict[str, str]) -> dict[str, str]:
        """The implicit CHECK each generated column carries: stored value
        null-safe-equals its expression.  ``<=>`` never yields NULL, so
        the standard NULL-passes CHECK semantics become strict equality —
        a caller-supplied wrong value (including a wrong NULL) fails the
        commit."""
        return {
            f"__generated_{c}": f"`{c}` <=> ({e})" for c, e in gen.items()
        }

    def _apply_generated(self, df: DataFrame, gen: dict[str, str]) -> DataFrame:
        """Fill in MISSING generated columns (logical space).  Present
        columns are left alone — the implicit CHECK validates them at
        commit instead, so a caller can never silently ship a value that
        disagrees with the declaration."""
        for c in sorted(gen):
            if c not in df.columns:
                df = df.withColumn(c, F.expr(gen[c]))
        return df

    def repartition_table(self, new_partition_by: str | None) -> int:
        """PARTITION SPEC EVOLUTION (the Iceberg capability Delta lacks —
        Delta repartitions by rewriting the table): change the partition
        layout for FUTURE writes in one O(manifest) metadata commit.
        Existing files are frozen as LEGACY-spec entries (namespaced keys
        in the same partition map), stay byte-identical, and keep their
        stats/blooms, so data skipping over them is unchanged.  The old
        partition column becomes a regular DATA column (new files store
        it; legacy files restore it from their paths); the new partition
        column must already be a live data column (legacy files carry its
        values — that is what makes the evolution possible without a
        rewrite), and its type is recorded so path-derived values cast
        back exactly.

        Semantics after a respec:

        - ``read()`` presents one logical table across both layouts;
          ``read(partitions=[...])`` selects CURRENT-spec values only
          (legacy files are always planned — stats pruning still applies;
          migrate to regain value pruning over old data).
        - copy-on-write DML naturally MIGRATES: legacy candidate files
          rewrite into the current layout.  ``migrate()`` does it
          explicitly (merge semantics — staged files join any live
          current-spec entry for the same value); ``compact()`` skips
          legacy entries (its replace semantics would clobber such an
          entry) and points at ``migrate()``.
        - ``merge_upsert`` refuses while legacy entries exist (a keyed
          merge must see every key's row; run ``migrate()`` first) — the
          one documented restriction.
        - the change feed emits NO events for the respec (no file
          changed), and RESTORE carries the full mixed-spec state.

        ``new_partition_by=None`` makes the table unpartitioned going
        forward.  Returns the committed version (current one if the spec
        is unchanged)."""
        cur = self._latest()
        if cur is None:
            raise NoSuchVersion("repartition_table needs a committed table")
        v0, m0 = cur
        pby_l = self._logical_pby(m0)
        if (new_partition_by or None) == (pby_l or None):
            return v0
        phys = dict(self._parse_schema(m0["schema"]))
        inv = self._inv(m0)
        live = {inv.get(p, p) for p in phys}
        new_p = None
        ptype = None
        if new_partition_by is not None:
            if new_partition_by not in live:
                raise ValueError(
                    f"new partition column {new_partition_by!r} must be a "
                    f"live data column (have: {sorted(live)}) — legacy "
                    "files must already carry its values"
                )
            new_p = self._p(m0, new_partition_by)
            ptype = phys[new_p]
        # freeze current entries under the old spec's namespace; carry
        # already-legacy entries as they are
        old_p = m0["partition_by"]
        parts: dict[str, list[str]] = {}
        for k, files in m0["partitions"].items():
            if _SPEC_SEP in k or not old_p:
                parts[k if _SPEC_SEP in k else f"{_SPEC_SEP}{k}"] = list(files)
            else:
                parts[f"{old_p}{_SPEC_SEP}{k}"] = list(files)
        # schema: the new partition column leaves the data schema (new
        # files carry it in the path); the old one joins it (new files
        # store it as data, type = the path-string convention — or its
        # recorded type if the old spec itself came from a respec)
        if new_p is not None:
            phys.pop(new_p, None)
        if old_p:
            phys[old_p] = m0.get("partition_type") or "string"
        schema = ";".join(sorted(f"{c}:{t}" for c, t in phys.items()))
        manifest = {
            "version": v0 + 1,
            "parent": v0,
            "operation": "repartition_table",
            "partition_by": new_p,
            "schema": schema,
            "partitions": parts,
            "stats": dict(m0.get("stats") or {}),
            "committed_at_ms": int(time.time() * 1000),
            "meta": {"respec": [pby_l, new_partition_by]},
        }
        if ptype is not None:
            manifest["partition_type"] = ptype
        for k in (
            "evolved", "widened", "dv", "mapping", "dropped", "generated",
        ):
            if m0.get(k):
                manifest[k] = (
                    dict(m0[k]) if isinstance(m0[k], dict) else (
                        list(m0[k]) if isinstance(m0[k], list) else m0[k]
                    )
                )
        return self._commit_state(manifest, v0 + 1, m0)

    def migrate(self, partitions: list[str] | None = None) -> int:
        """Rewrite LEGACY-spec files into the CURRENT partition layout
        (the follow-up job to :meth:`repartition_table`, same motivation
        as compaction): reads the selected legacy entries, restages under
        the current spec, and commits a version where those entries are
        gone.  ``partitions=None`` migrates every legacy entry; pass
        specific legacy keys (as returned in ``describe()['legacy']``)
        to bound the rewrite.  No-op (current version) without legacy
        entries."""
        cur = self._latest()
        if cur is None:
            raise ValueError("migrate needs an existing table")
        v0, m0 = cur
        sel = [
            k
            for k in m0["partitions"]
            if _SPEC_SEP in k and (partitions is None or k in set(partitions))
        ]
        if not sel:
            return v0
        pby = m0["partition_by"]
        pby_l = self._logical_pby(m0)
        # row-preserving maintenance, same contract as compact
        # (meta["compacted"] keeps the change feed's skip_compactions
        # netting sound).  Staged files MERGE into existing current-spec
        # entries — a migrated row's partition value may already hold live
        # files, so replace semantics (overwrite_partitions) would clobber
        # them.
        df = self.read(version=v0, partitions=sel, _exact_partitions=True)
        df, _ = self._physical_input(df, m0)
        if pby:
            width = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            df = df.repartition(width, F.col(pby))
        staged = self._stage_files(df, pby)
        stats = m0.get("stats") or {}
        scols: list[str] = []
        bseen: list[str] = []
        bbits = 4096
        for ent in stats.values():
            for c, v in ent.items():
                if "mn" in v and c not in scols:
                    scols.append(c)
                if "bf" in v:
                    if c not in bseen:
                        bseen.append(c)
                    bbits = max(bbits, int(v["bf"]["m"]))
        staged_stats = self._collect_file_stats(staged, scols, bseen, bbits)
        sel_set = set(sel)

        def build_manifest(vb: int, mb: dict) -> dict:
            parts = {
                k: list(f)
                for k, f in mb["partitions"].items()
                if k not in sel_set
            }
            for pval, files in staged.items():
                parts[pval] = sorted(parts.get(pval, []) + files)
            live = {rel for fl in parts.values() for rel in fl}
            new_stats = {
                rel: ent
                for rel, ent in (mb.get("stats") or {}).items()
                if rel in live
            }
            new_stats.update(staged_stats)
            manifest = {
                "version": vb + 1,
                "parent": vb,
                "operation": "migrate",
                "partition_by": pby,
                "schema": mb["schema"],
                "partitions": parts,
                "stats": new_stats,
                "committed_at_ms": int(time.time() * 1000),
                "meta": {"compacted": sorted(sel)},
            }
            if mb.get("partition_type"):
                manifest["partition_type"] = mb["partition_type"]
            for k in (
                "evolved", "widened", "dv", "mapping", "dropped", "generated",
            ):
                if mb.get(k):
                    manifest[k] = (
                        dict(mb[k])
                        if isinstance(mb[k], dict)
                        else (list(mb[k]) if isinstance(mb[k], list) else mb[k])
                    )
            return manifest

        return self._commit_rebase(
            build_manifest, v0, m0, sel_set | set(staged)
        )

    def write(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: str | None = None,
        extra_meta: dict | None = None,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 4096,
        allow_evolution: bool = False,
        allow_widening: bool = False,
        generated: dict[str, str] | None = None,
    ) -> int:
        """Commit ``df`` as a new version.  ``mode``: "overwrite" replaces
        the whole table; "append" carries every existing file forward and
        adds the new ones.  ``stats_cols`` records per-file min/max/null
        stats for data skipping (see module docstring); append commits
        carry existing files' stats forward, and an append that leaves
        ``stats_cols``/``bloom_cols`` unset inherits the table's existing
        stats/bloom column sets so pruning keeps working on the appended
        files (pass ``[]`` to explicitly stat nothing).  ``allow_evolution=True``
        permits an append whose schema ADDS columns (additive evolution —
        readers surface the union schema with typed nulls for files written
        before the column existed; drop/retype still raise).  Returns the
        committed version."""
        schema_fp = None
        evolved = False
        widened = False
        mapping: dict[str, str] = {}
        cur = self._latest()
        if cur is not None and mode == "append" and generated is not None:
            raise ValueError(
                "generated columns are declared at create/overwrite; "
                "appends inherit the table's set"
            )
        gen = dict(generated or {})
        if cur is not None:
            v0, m0 = cur
            # the caller speaks LOGICAL names (column-mapping surface);
            # partition equality is checked there, and an append's frame +
            # user stat column lists convert to physical for staging.  A
            # full overwrite replaces every file, so logical names become
            # the physical reality again (mapping/dropped reset below).
            pby_l = self._logical_pby(m0)
            partition_by = partition_by or pby_l
            if (pby_l or None) != (partition_by or None):
                raise ValueError(
                    f"partition_by {partition_by!r} != table's "
                    f"{pby_l!r}"
                )
            if mode == "append":
                # derived columns fill in BEFORE staging (logical space);
                # caller-supplied values are validated post-stage instead
                gen = dict(m0.get("generated") or {})
                df = self._apply_generated(df, gen)
                df, mapping = self._physical_input(df, m0)
                partition_by = m0["partition_by"]
                if stats_cols:
                    stats_cols = [self._p(m0, c) for c in stats_cols]
                if bloom_cols:
                    bloom_cols = [self._p(m0, c) for c in bloom_cols]
                fp = self._schema_fingerprint(df, partition_by)
                schema_fp, widen_d = self._evolve_schema(
                    m0["schema"], fp, allow_evolution, allow_widening
                )
                # heterogeneous live files once any carried file predates
                # an added column (or carries a narrower accepted type);
                # sticky until a full overwrite
                added_cols = set(self._parse_schema(schema_fp)) - set(
                    self._parse_schema(m0["schema"])
                )
                evolved = bool(m0.get("evolved")) or (
                    bool(added_cols) and bool(m0["partitions"])
                )
                widened = bool(m0.get("widened")) or (
                    widen_d and bool(m0["partitions"])
                )
        else:
            v0, m0 = 0, None
        if mode != "append":
            df = self._apply_generated(df, gen)
        staged = self._stage_files(df, partition_by)
        self._enforce_staged(
            staged, partition_by, f"{mode} rows", self._gen_constraints(gen),
            m0 if mode == "append" else None,
        )
        # an append that does not say which columns to stat inherits the
        # table's existing stats/bloom column sets (exactly as
        # overwrite_partitions does) — otherwise a plain append committed
        # stat-less files, silently degrading pruning (ADVICE r9)
        if mode == "append" and m0 is not None:
            base_stats = m0.get("stats") or {}
            if stats_cols is None:
                stats_cols = []
                for ent in base_stats.values():
                    stats_cols += [
                        c for c, v in ent.items()
                        if "mn" in v and c not in stats_cols
                    ]
            if bloom_cols is None:
                bloom_cols = []
                for ent in base_stats.values():
                    for c, v in ent.items():
                        if "bf" in v:
                            if c not in bloom_cols:
                                bloom_cols.append(c)
                            bloom_bits = max(bloom_bits, int(v["bf"]["m"]))
        staged_stats = self._collect_file_stats(
            staged, stats_cols or [], bloom_cols, bloom_bits
        )
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported mode {mode!r}")

        def build_manifest(vb: int, mb: dict | None) -> dict:
            if mode == "append" and mb is not None:
                merged = {k: list(v) for k, v in mb["partitions"].items()}
                for pval, files in staged.items():
                    merged.setdefault(pval, [])
                    merged[pval] = sorted(merged[pval] + files)
                parts = merged
                stats = dict(mb.get("stats") or {})
                stats.update(staged_stats)
            else:
                parts, stats = staged, staged_stats
            manifest = {
                "version": vb + 1,
                "parent": vb if mb is not None else None,
                "operation": mode,
                "partition_by": partition_by,
                "schema": schema_fp or self._schema_fingerprint(df, partition_by),
                "partitions": parts,
                "stats": stats,
                "committed_at_ms": int(time.time() * 1000),
                "meta": dict(extra_meta or {}),
            }
            if evolved:
                manifest["evolved"] = True
            if widened:
                manifest["widened"] = True
            # deletion vectors survive an append (their files stay live);
            # a full overwrite replaces every file, so tombstones die here
            if mode == "append" and mb is not None and mb.get("dv"):
                manifest["dv"] = list(mb["dv"])
            # column mapping likewise: appends carry it (staged files were
            # converted to physical names); an overwrite resets it
            if mode == "append":
                if mapping:
                    manifest["mapping"] = dict(mapping)
                if mb is not None and mb.get("dropped"):
                    manifest["dropped"] = sorted(mb["dropped"])
                if mb is not None and mb.get("partition_type"):
                    manifest["partition_type"] = mb["partition_type"]
            if gen:
                manifest["generated"] = dict(gen)
            return manifest

        if mode != "append" or m0 is None:
            return self._commit_state(build_manifest(v0, m0), v0 + 1, m0)
        # An append's new rows do not depend on the base's contents, so a
        # lost CAS rebases onto the new latest instead of surfacing: the
        # staged files merge into whichever partition map is current (the
        # streaming ingest + compaction interleave, VERDICT r9 #6).  The
        # only true conflict is a racing schema change, which the
        # re-evolution check below re-validates per attempt.
        vb, mb = v0, m0
        for attempt in range(5):
            try:
                return self._commit_state(build_manifest(vb, mb), vb + 1, mb)
            except ConcurrentCommit:
                if attempt == 4:
                    raise
                cur = self._latest()
                assert cur is not None  # someone committed: latest exists
                vb, mb = cur
                if (mb.get("mapping") or {}) != (
                    (m0.get("mapping") or {}) if m0 else {}
                ) or list(mb.get("dropped") or ()) != list(
                    (m0.get("dropped") or ()) if m0 else ()
                ):
                    # a racing RENAME/DROP COLUMN changed the logical<->
                    # physical contract the staged files were written under
                    # — replaying them could resurrect a retired column
                    raise
                if (mb.get("generated") or {}) != (
                    (m0.get("generated") or {}) if m0 else {}
                ):
                    # a racing generated-column change alters what these
                    # rows should have derived/validated
                    raise
                schema_fp, widen_d = self._evolve_schema(
                    mb["schema"],
                    self._schema_fingerprint(df, partition_by),
                    allow_evolution,
                    allow_widening,
                )
                added_cols = set(self._parse_schema(schema_fp)) - set(
                    self._parse_schema(mb["schema"])
                )
                evolved = bool(mb.get("evolved")) or (
                    bool(added_cols) and bool(mb["partitions"])
                )
                widened = bool(mb.get("widened")) or (
                    widen_d and bool(mb["partitions"])
                )
        raise AssertionError("unreachable")

    def overwrite_partitions(
        self,
        df: DataFrame,
        partition_values: list[str] | None = None,
        extra_meta: dict | None = None,
        base_version: int | None = None,
        cluster_files: bool = False,
        stats_cols: list[str] | None = None,
        allow_evolution: bool = False,
        allow_widening: bool = False,
        _maintenance: bool = False,
    ) -> int:
        """Commit a version where the partitions carried by ``df`` (or the
        explicit ``partition_values``) are REPLACED and every other
        partition's files are carried forward by reference — the dynamic
        partition overwrite / MERGE publish primitive, made atomic and
        snapshot-isolated by the manifest commit.
        ``allow_evolution=True`` permits an ADDITIVE schema change (new
        columns; drop/retype still raise) — see :meth:`write`.

        ``base_version`` pins the snapshot the replacement was COMPUTED
        against: the commit claims exactly ``base_version + 1``, so a
        concurrent commit landing in between loses the manifest CAS and
        raises :class:`ConcurrentCommit` instead of being silently clobbered
        (ADVICE r8) — callers re-read and retry.  ``None`` keeps the
        blind-overwrite semantics (commit on top of whatever is latest),
        which is only safe when the replacement does not depend on current
        table contents.  ``cluster_files=True`` hash-clusters ``df`` on the
        partition column before staging so each touched partition gets ONE
        file instead of one per task — the streaming/merge small-file valve
        (same motivation as :meth:`compact`, paid at write time)."""
        cur = (
            self._latest()
            if base_version is None
            else (base_version, self._read_manifest(base_version))
        )
        if cur is None:
            raise ValueError("overwrite_partitions needs an existing table")
        v0, m0 = cur
        partition_by = m0["partition_by"]
        if not partition_by:
            raise ValueError("table is unpartitioned")
        if not _maintenance and self._has_legacy(m0):
            # "replace partition value V" is ill-defined while rows with
            # value V still hide in legacy-spec files (they would survive
            # the replacement); maintenance rewrites of current-spec
            # entries are exempt — they preserve the row multiset
            raise ValueError(
                "overwrite_partitions on a table with legacy-spec "
                "partitions (after repartition_table): run migrate() first"
            )
        # caller speaks logical names; staging/stats are physical
        gen = dict(m0.get("generated") or {})
        df = self._apply_generated(df, gen)
        df, mapping = self._physical_input(df, m0)
        if stats_cols:
            stats_cols = [self._p(m0, c) for c in stats_cols]
        fp = self._schema_fingerprint(df, partition_by)
        schema_fp, widen_d = self._evolve_schema(
            m0["schema"], fp, allow_evolution, allow_widening
        )
        added_cols = set(self._parse_schema(schema_fp)) - set(
            self._parse_schema(m0["schema"])
        )
        if cluster_files:
            # every partition value's rows land in one task -> one staged
            # file per partition dir; parallelism stays at the session's
            # shuffle-partition width (NOT one task per partition — a
            # handful of whale dates must not serialize the whole write).
            # Explicit numPartitions: AQE would coalesce a bare
            # repartition(col) of a small frame to ONE task, serializing
            # every parquet file open/close through it.
            width = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            df = df.repartition(width, F.col(partition_by))
        staged = self._stage_files(df, partition_by)
        if not _maintenance:
            # maintenance rewrites (compaction/zorder, via the INTERNAL
            # flag only — user metadata must not be able to waive
            # enforcement) carry rows that already passed at their
            # original commit; re-validating a terabyte of unchanged rows
            # would be pure waste
            self._enforce_staged(
                staged, partition_by, "overwritten partition rows",
                self._gen_constraints(gen), m0,
            )
        # removal set (ADVICE r11 #1): callers speak TRUE partition values
        # ONLY, and each manifest key (canonically escaped by the writer,
        # so _unq is injective over them) is matched solely via _unq(k).
        # The old dual raw/unescaped test was a data-loss hazard: with
        # TRUE 'a b' (key 'a%20b') and TRUE 'a%20b' (key 'a%2520b') both
        # live, partition_values=['a%20b'] removed BOTH entries but only
        # restaged one.  compact()/zorder() unescape their manifest keys
        # before the hand-off; the partition_values=None default takes the
        # staged dir names (escaped) and unescapes them here for the same
        # reason.
        wanted = (
            {str(v) for v in partition_values}
            if partition_values is not None
            else {_unq(k) for k in staged}
        )
        # loud failure for the retired escaped-key convention — EXCEPT for
        # values the caller is actively staging: creating a brand-new
        # partition whose literal value collides with an existing
        # partition's escaped key is legitimate under the TRUE-values
        # contract (its own manifest key escapes one layer deeper) and
        # must not raise (r12 review finding #2: the old guard
        # false-positived here, and its message recommended the colliding
        # TRUE value — obeying it would have dropped the wrong partition)
        _check_retired_key_misuse(
            wanted,
            m0["partitions"],
            "overwrite_partitions",
            allow=frozenset(_unq(k) for k in staged),
        )
        replaced = {
            k for k in m0["partitions"] if _unq(k) in wanted
        } | set(staged)
        # stat the staged files with the requested columns (default:
        # whatever the base version was stats'd with, so a stats table
        # keeps skipping after merges); untouched files' stats are carried
        # by reference in build_manifest below
        scols = stats_cols
        base_stats = m0.get("stats") or {}
        if scols is None:
            seen: list[str] = []
            for ent in base_stats.values():
                seen += [c for c, v in ent.items() if "mn" in v and c not in seen]
            scols = seen
        # blooms inherit independently of min/max (an entry may carry
        # either or both); bits follow the largest bloom already committed
        bseen: list[str] = []
        bbits = 4096
        for ent in base_stats.values():
            for c, v in ent.items():
                if "bf" in v:
                    if c not in bseen:
                        bseen.append(c)
                    bbits = max(bbits, int(v["bf"]["m"]))
        staged_stats = self._collect_file_stats(staged, scols, bseen, bbits)
        staged_set = {rel for files in staged.values() for rel in files}

        def build_manifest(vb: int, mb: dict) -> dict:
            parts = {
                k: list(v)
                for k, v in mb["partitions"].items()
                if _unq(k) not in wanted
            }
            for pval, files in staged.items():
                parts[pval] = files
            live = {rel for files in parts.values() for rel in files}
            stats = {
                rel: ent
                for rel, ent in (mb.get("stats") or {}).items()
                if rel in live
            }
            stats.update(staged_stats)
            # live files are heterogeneous once any carried file predates an
            # added column; a commit that replaced EVERY live file resets it
            evolved = bool(live - staged_set) and (
                bool(mb.get("evolved")) or bool(added_cols)
            )
            widened = bool(live - staged_set) and (
                bool(mb.get("widened")) or widen_d
            )
            manifest = {
                "version": vb + 1,
                "parent": vb,
                "operation": "overwrite_partitions",
                "partition_by": partition_by,
                "schema": schema_fp,
                "partitions": parts,
                "stats": stats,
                "committed_at_ms": int(time.time() * 1000),
                "meta": dict(extra_meta or {}),
            }
            if evolved:
                manifest["evolved"] = True
            if widened:
                manifest["widened"] = True
            if mb.get("dv"):
                # tombstones for replaced files go stale-harmless (dead
                # paths match nothing); untouched files keep theirs
                manifest["dv"] = list(mb["dv"])
            if mapping:
                manifest["mapping"] = dict(mapping)
            if mb.get("dropped"):
                manifest["dropped"] = sorted(mb["dropped"])
            if mb.get("partition_type"):
                manifest["partition_type"] = mb["partition_type"]
            if mb.get("generated"):
                manifest["generated"] = dict(mb["generated"])
            return manifest

        return self._commit_rebase(build_manifest, v0, m0, replaced | set(staged))

    def merge_upsert(
        self,
        updates: DataFrame,
        keys: list[str],
        partition_col_value: F.Column | None = None,
        extra_meta: dict | None = None,
        cluster_files: bool = False,
        stats_cols: list[str] | None = None,
        allow_evolution: bool = False,
        allow_widening: bool = False,
    ) -> int:
        """MERGE by key into the touched partitions only: every stored row
        whose key appears in ``updates`` is replaced, new keys are appended,
        untouched partitions are carried by reference.  The publish is one
        atomic manifest commit and readers are snapshot-isolated
        throughout.
        ``partition_col_value``: expression deriving the partition value
        from an updates row (e.g. ``F.date_format("t_ref","yyyy-MM-dd")``).
        ``allow_evolution=True`` lets ``updates`` carry NEW columns (additive
        evolution): surviving pre-existing rows take typed nulls there.

        Serializable against racing writers: survivors are computed against
        the version read at entry and the commit claims exactly that
        version + 1 — a commit landing in between fails the manifest CAS
        with :class:`ConcurrentCommit` rather than having its rows silently
        dropped from the touched partitions (ADVICE r8); catch and re-call
        to retry on the new base."""
        cur = self._latest()
        if cur is None:
            raise ValueError("merge into an empty table: use write() first")
        v0, m0 = cur
        if self._has_legacy(m0):
            # a keyed merge must see EVERY existing row of the touched
            # keys; legacy-spec files are not addressable by current-spec
            # partition value, so silently merging would resurrect old
            # rows.  Migration is the documented prerequisite.
            raise ValueError(
                "merge_upsert on a table with legacy-spec partitions "
                "(after repartition_table): run migrate() first"
            )
        # the merge is computed in LOGICAL space (read() output + caller's
        # updates); overwrite_partitions converts back at staging.
        # Generated columns missing from the updates derive here (a
        # generated PARTITION column also defaults partition_col_value —
        # the hidden-partitioning merge ergonomics).
        pby = self._logical_pby(m0)
        gen = dict(m0.get("generated") or {})
        updates = self._apply_generated(updates, gen)
        if partition_col_value is None:
            if pby not in gen and pby not in updates.columns:
                raise ValueError(
                    "partition_col_value is required unless the partition "
                    "column is generated (or already present in updates)"
                )
            partition_col_value = F.col(pby)
        upd = updates.withColumn(pby, partition_col_value.cast("string"))
        touched = [r[0] for r in upd.select(pby).distinct().collect()]
        # the caller is actively WRITING these values: a new TRUE value
        # colliding with an existing escaped key is legitimate here, same
        # exemption as overwrite_partitions' staged set
        old_slice = self.read(
            version=v0,
            partitions=touched,
            _staging_values=frozenset(str(t) for t in touched),
        )
        if old_slice is not None:
            update_keys = F.broadcast(upd.select(*keys).distinct())
            survivors = old_slice.join(update_keys, keys, "left_anti")
            if allow_evolution:
                # survivors take typed nulls in any column only updates has
                merged = survivors.unionByName(upd, allowMissingColumns=True)
            else:
                extra = sorted(set(upd.columns) - set(survivors.columns))
                if extra:
                    # silently projecting these away would LOSE update data
                    raise ValueError(
                        f"updates add columns {extra}; pass "
                        "allow_evolution=True to evolve the table additively"
                    )
                merged = survivors.unionByName(upd.select(*survivors.columns))
        else:
            merged = upd
        return self.overwrite_partitions(
            merged,
            partition_values=touched,
            extra_meta=extra_meta,
            base_version=v0,
            cluster_files=cluster_files,
            stats_cols=stats_cols,
            allow_evolution=allow_evolution,
            allow_widening=allow_widening,
        )

    def delete(
        self,
        condition,
        prune: list[tuple] | None = None,
        extra_meta: dict | None = None,
    ) -> int:
        """Row-level DELETE: remove every row where ``condition`` is TRUE
        (a Column or SQL string; NULL-condition rows are KEPT, standard
        DELETE semantics), rewriting ONLY the files that could contain a
        match — the GDPR-delete shape.

        ``prune`` is the same ``[(col, op, value), ...]`` list as
        :meth:`read` and MUST be a conservative superset of ``condition``
        (every row the condition matches must satisfy the prune
        predicates — e.g. ``condition="user_id = 7"`` with
        ``prune=[("user_id", "=", 7)]``): files whose stats/bloom prove no
        match are carried BY REFERENCE, byte-identical, so a point delete
        against a bloom'd key touches only the bloom's candidate files
        instead of the table.  No ``prune`` = every file is a rewrite
        candidate (correct, just maximally expensive).

        Snapshot semantics: committed as one new version (CAS on the base
        read at entry — a racing commit raises :class:`ConcurrentCommit`);
        older versions still read the deleted rows until vacuum.  Files
        emptied by the delete are dropped; a fully-emptied partition
        disappears.  Returns the committed version (the current one when
        pruning proves nothing to rewrite)."""

        def drop_matched(df, matched):
            return df.where(~matched)

        return self._rewrite_matching(
            condition, drop_matched, "delete", prune, extra_meta
        )

    def delete_positions(
        self,
        condition,
        prune: list[tuple] | None = None,
        extra_meta: dict | None = None,
    ) -> int:
        """Merge-on-read DELETE via DELETION VECTORS — the high-frequency
        path copy-on-write :meth:`delete` is not: matching rows are
        recorded as (file, row_index) tombstones in small parquet files
        the manifest carries in ``dv``, and every read anti-applies them
        — dropping 100 rows from a 1 GB file costs a KB-scale tombstone
        write instead of a 1 GB rewrite.  ``prune`` bounds the scan to
        candidate files exactly as in :meth:`delete`.  Tombstones
        accumulate across commits (already-deleted rows are never
        re-tombstoned — idempotent), are folded away by any rewrite of
        the covered file (compaction and copy-on-write DML read THROUGH
        the DVs), and die with a full overwrite.  Snapshot semantics and
        OCC are :meth:`delete`'s: commit claims base+1; a racing commit
        touching a candidate partition conflicts.  The read-side cost is
        one broadcast anti-join while any DV is live — once tombstones
        stop being small, :meth:`compact` materializes them away.
        Returns the committed version (the current one when nothing
        matched)."""
        cur = self._latest()
        if cur is None:
            raise ValueError("delete_positions needs an existing table")
        v0, m0 = cur
        pby = m0["partition_by"]
        stats = m0.get("stats") or {}
        if prune is not None:
            # prune predicates speak logical names; stats are keyed physical
            prune = [(self._p(m0, c), op, v) for c, op, v in prune]
        cand: list[str] = []
        for files in m0["partitions"].values():
            for rel in files:
                if prune is not None and not all(
                    _stats_may_match(stats.get(rel), c, op, v)
                    for c, op, v in prune
                ):
                    continue
                cand.append(rel)
        if not cand:
            return v0
        df = self._scan_files(m0, cand)
        if self._has_legacy(m0) or m0.get("partition_type"):
            df = self._restore_partition_cols(df, m0)
        elif pby:
            df = df.withColumn(
                pby,
                _unescape_pval_col(
                    F.regexp_extract(F.input_file_name(), f"{pby}=([^/]+)/", 1)
                ),
            )
        df = df.withColumn("__dvf", F.col("_metadata.file_path")).withColumn(
            "__dvi", F.col("_metadata.row_index")
        )
        dv0 = m0.get("dv") or []
        if dv0:
            tomb0 = self.spark.read.parquet(
                *[self._abs(r) for r in dv0]
            ).select("__dvf", "__dvi")
            df = df.join(F.broadcast(tomb0), ["__dvf", "__dvi"], "left_anti")
        # the condition speaks logical names; __dv* helpers pass through
        df = self._logical_view(df, m0)
        cond = F.expr(condition) if isinstance(condition, str) else condition
        matched = df.where(
            F.coalesce(cond.cast("boolean"), F.lit(False))
        ).select("__dvf", "__dvi").localCheckpoint()
        n = matched.count()
        if n == 0:
            return v0
        # one tombstone file per commit: DVs are small by contract, and a
        # part-file per task would just multiply the read-side broadcast
        staged = self._stage_files(matched.coalesce(1), None)
        new_dv = staged.get("", [])
        touched = {
            pval
            for pval, files in m0["partitions"].items()
            if any(r in set(cand) for r in files)
        }

        def build_manifest(vb: int, mb: dict) -> dict:
            manifest = {
                "version": vb + 1,
                "parent": vb,
                "operation": "delete_positions",
                "partition_by": pby,
                "schema": mb["schema"],
                "partitions": {
                    k: list(f) for k, f in mb["partitions"].items()
                },
                "stats": dict(mb.get("stats") or {}),
                "committed_at_ms": int(time.time() * 1000),
                "meta": dict(
                    extra_meta or {}, delete_positions_rows=n
                ),
                "dv": sorted((mb.get("dv") or []) + new_dv),
            }
            if mb.get("evolved"):
                manifest["evolved"] = True
            if mb.get("widened"):
                manifest["widened"] = True
            if mb.get("mapping"):
                manifest["mapping"] = dict(mb["mapping"])
            if mb.get("dropped"):
                manifest["dropped"] = sorted(mb["dropped"])
            if mb.get("partition_type"):
                manifest["partition_type"] = mb["partition_type"]
            if mb.get("generated"):
                manifest["generated"] = dict(mb["generated"])
            return manifest

        return self._commit_rebase(build_manifest, v0, m0, touched)

    def update(
        self,
        condition,
        set: dict,
        prune: list[tuple] | None = None,
        extra_meta: dict | None = None,
    ) -> int:
        """Row-level UPDATE: for every row where ``condition`` is TRUE
        (NULL-condition rows unchanged), assign each ``set`` column its
        expression (Column or SQL string; expressions see the PRE-update
        row, standard UPDATE semantics, and may not add columns — use
        schema evolution + merge for that).  Same file-surgical economics
        and snapshot/CAS semantics as :meth:`delete`: ``prune`` must be a
        conservative superset of the condition, and every file it proves
        match-free is carried by reference."""
        assigns = {
            c: (F.expr(e) if isinstance(e, str) else e) for c, e in set.items()
        }
        cur = self._latest()
        gen = dict((cur[1].get("generated") or {})) if cur else {}
        bad = sorted(k for k in assigns if k in gen)
        if bad:
            raise ValueError(
                f"cannot UPDATE generated columns {bad}: their values "
                "derive from their expressions — update the source columns "
                "(the rewrite re-derives them automatically)"
            )

        def apply_set(df, matched):
            unknown = sorted(k for k in assigns if k not in df.columns)
            if unknown:
                raise ValueError(f"UPDATE SET of unknown columns: {unknown}")
            # ONE select so every assignment resolves against the ORIGINAL
            # row (sequential withColumn would feed assignment 2 the value
            # assignment 1 just wrote — a swap like SET k=u, u=k breaks)
            return df.select(
                *[
                    F.when(matched, assigns[c]).otherwise(F.col(c)).alias(c)
                    if c in assigns
                    else F.col(c)
                    for c in df.columns
                ]
            )

        return self._rewrite_matching(
            condition, apply_set, "update", prune, extra_meta
        )

    def _rewrite_matching(
        self,
        condition,
        transform,
        operation: str,
        prune: list[tuple] | None,
        extra_meta: dict | None,
    ) -> int:
        """Shared copy-on-write DML core (DELETE/UPDATE): select rewrite
        candidates via stats/bloom pruning, apply ``transform(df, matched)``
        to the candidate rows, stage the result, and commit a manifest that
        replaces exactly the candidate files — everything else by
        reference."""
        cur = self._latest()
        if cur is None:
            raise ValueError(f"{operation} needs an existing table")
        v0, m0 = cur
        pby = m0["partition_by"]
        stats = m0.get("stats") or {}
        if prune is not None:
            # prune predicates speak logical names; stats are keyed physical
            prune = [(self._p(m0, c), op, v) for c, op, v in prune]
        cand: list[str] = []
        for files in m0["partitions"].values():
            for rel in files:
                if prune is not None and not all(
                    _stats_may_match(stats.get(rel), c, op, v)
                    for c, op, v in prune
                ):
                    continue  # provably match-free: carried by reference
                cand.append(rel)
        if not cand:
            return v0
        df = self._scan_files(m0, cand)
        if self._has_legacy(m0) or m0.get("partition_type"):
            df = self._restore_partition_cols(df, m0)
        elif pby:
            df = df.withColumn(
                pby,
                _unescape_pval_col(
                    F.regexp_extract(F.input_file_name(), f"{pby}=([^/]+)/", 1)
                ),
            )
        # copy-on-write reads THROUGH the deletion vectors: a rewrite of a
        # DV-covered file folds its tombstones away (the rewritten file
        # simply no longer contains those rows; the stale tombstones then
        # reference a dead path and match nothing)
        df = self._apply_dv(df, m0.get("dv") or [])
        # condition and SET expressions speak LOGICAL names; the rewrite
        # stages back under physical names (a rewrite after DROP COLUMN
        # also materializes the drop for the rewritten files — old
        # snapshots keep reading the originals)
        df = self._logical_view(df, m0)
        cond = F.expr(condition) if isinstance(condition, str) else condition
        matched = F.coalesce(cond.cast("boolean"), F.lit(False))
        kept = transform(df, matched)
        gen = dict(m0.get("generated") or {})
        if operation == "update" and gen:
            # an UPDATE of a source column must not leave a generated
            # column stale: re-derive every declared column over the
            # rewritten rows (deterministic; unmatched rows recompute to
            # their stored values)
            for c in sorted(gen):
                if c in kept.columns:
                    kept = kept.withColumn(c, F.expr(gen[c]))
        kept, _ = self._physical_input(kept, m0)
        fp = self._schema_fingerprint(kept, pby)
        if fp != m0["schema"]:
            # e.g. an UPDATE SET whose expression retypes the column: the
            # when/otherwise unification widens the type and the rewritten
            # files would silently diverge from the manifest schema
            raise ValueError(
                f"{operation} changed the schema: {fp} != {m0['schema']}"
            )
        if pby:
            width = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            kept = kept.repartition(width, F.col(pby))
        staged = self._stage_files(kept, pby)
        if operation == "update":
            # a DELETE can only remove rows; an UPDATE's SET expressions can
            # break a CHECK — validate exactly the rewritten candidates
            self._enforce_staged(
                staged, pby, "updated rows", self._gen_constraints(gen), m0
            )
        cand_set = set(cand)
        # stats: carry untouched by reference; re-stat the rewritten files
        # with the table's inherited range AND bloom column sets
        scols: list[str] = []
        bseen: list[str] = []
        bbits = 4096
        for ent in stats.values():
            for c, v in ent.items():
                if "mn" in v and c not in scols:
                    scols.append(c)
                if "bf" in v:
                    if c not in bseen:
                        bseen.append(c)
                    bbits = max(bbits, int(v["bf"]["m"]))
        staged_stats = self._collect_file_stats(staged, scols, bseen, bbits)
        staged_set = {rel for files in staged.values() for rel in files}
        # partitions this rewrite reads or writes: the rebase conflict set
        touched = {
            pval
            for pval, files in m0["partitions"].items()
            if any(r in cand_set for r in files)
        } | set(staged)

        def build_manifest(vb: int, mb: dict) -> dict:
            parts: dict[str, list[str]] = {}
            for pval, files in mb["partitions"].items():
                untouched = [r for r in files if r not in cand_set]
                if untouched:
                    parts[pval] = untouched
            for pval, files in staged.items():
                parts[pval] = sorted(parts.get(pval, []) + files)
            live = {rel for files in parts.values() for rel in files}
            new_stats = {
                rel: ent
                for rel, ent in (mb.get("stats") or {}).items()
                if rel in live
            }
            new_stats.update(staged_stats)
            evolved = bool(live - staged_set) and bool(mb.get("evolved"))
            widened = bool(live - staged_set) and bool(mb.get("widened"))
            meta = {
                f"{operation}_rewrote_files": len(cand),
                f"{operation}_untouched_files": sum(
                    len(v) for v in mb["partitions"].values()
                )
                - len(cand),
            }
            meta.update(extra_meta or {})
            manifest = {
                "version": vb + 1,
                "parent": vb,
                "operation": operation,
                "partition_by": pby,
                "schema": mb["schema"],
                "partitions": parts,
                "stats": new_stats,
                "committed_at_ms": int(time.time() * 1000),
                "meta": meta,
            }
            if evolved:
                manifest["evolved"] = True
            if widened:
                manifest["widened"] = True
            if mb.get("dv"):
                manifest["dv"] = list(mb["dv"])
            if mb.get("mapping"):
                manifest["mapping"] = dict(mb["mapping"])
            if mb.get("dropped"):
                manifest["dropped"] = sorted(mb["dropped"])
            if mb.get("partition_type"):
                manifest["partition_type"] = mb["partition_type"]
            if mb.get("generated"):
                manifest["generated"] = dict(mb["generated"])
            return manifest

        return self._commit_rebase(build_manifest, v0, m0, touched)

    # -- read paths ---------------------------------------------------------

    def read(
        self,
        version: int | None = None,
        partitions: list[str] | None = None,
        prune: list[tuple] | None = None,
        _exact_partitions: bool = False,
        _staging_values: frozenset[str] = frozenset(),
    ) -> DataFrame | None:
        """Snapshot read: plan against exactly the files the manifest names
        (never a directory listing).  ``version=None`` = latest;
        ``partitions`` prunes to named partition values manifest-side (the
        file list shrinks BEFORE Spark ever sees it).  ``prune`` is a list
        of ``(col, op, value)`` simple predicates (op in ``= < <= > >=``)
        evaluated against the manifest's per-file stats: a file is dropped
        only when its min/max PROVE no row matches — conservative data
        skipping; the caller still applies the real filter.  Returns None
        for an empty selection."""
        if version is None:
            cur = self._latest()
            if cur is None:
                raise NoSuchVersion(f"{self.path} has no committed version")
            version, m = cur
        else:
            m = self._read_manifest(version)
        pby = m["partition_by"]
        sel = m["partitions"]
        if partitions is not None:
            want = {str(p) for p in partitions}
            if _exact_partitions or any(_SPEC_SEP in w for w in want):
                # maintenance selection (compact/migrate): exact manifest
                # keys, nothing implied
                sel = {k: v for k, v in sel.items() if k in want}
            else:
                # user value selection: match the TRUE (path-unescaped)
                # value ONLY (ADVICE r11 #1 — the raw-key alternative made
                # colliding values ambiguous); legacy-spec entries stay
                # planned — their rows are not addressable by current
                # value until migrate().  Escaped-key misuse fails loud
                # here too — silently returning None for it is the same
                # caller bug overwrite_partitions rejects.
                _check_retired_key_misuse(
                    want, m["partitions"], "read", allow=_staging_values
                )
                sel = {
                    k: v
                    for k, v in sel.items()
                    if _unq(k) in want or _SPEC_SEP in k
                }
        rels = [rel for v in sel.values() for rel in v]
        if prune:
            stats = m.get("stats") or {}
            # prune predicates speak logical names; stats are keyed physical
            rels = [
                rel
                for rel in rels
                if all(
                    _stats_may_match(stats.get(rel), self._p(m, col), op, val)
                    for col, op, val in prune
                )
            ]
        if not rels:
            return None
        # heterogeneous live files (additive evolution and/or accepted type
        # widening) resolve to the manifest's schema inside the scan
        df = self._scan_files(m, rels)
        if self._has_legacy(m) or m.get("partition_type"):
            # mixed-spec selection (partition evolution) or typed current
            # spec: the general per-column path/data restore
            df = self._restore_partition_cols(df, m)
        elif pby:
            # partition value is carried in the PATH, not the file: restore
            # it as a column (same as a partitioned directory scan would),
            # decoding the path escaping back to the true value
            part_of = F.regexp_extract(
                F.input_file_name(), f"{pby}=([^/]+)/", 1
            )
            df = df.withColumn(pby, _unescape_pval_col(part_of))
        # merge-on-read position deletes: tombstones anti-apply LAST, after
        # the projection chain (which keeps _metadata resolvable) and after
        # the path-derived columns (input_file_name is scan-stage-only and
        # would go blank after the anti-join); the logical view (column
        # mapping: renames surface, retired columns vanish) is a pure
        # projection on top
        return self._logical_view(self._apply_dv(df, m.get("dv") or []), m)

    def describe(self, version: int | None = None) -> dict:
        """DESCRIBE DETAIL from the manifest alone — no data scan: version,
        operation, commit time, partition layout, file/partition counts,
        schema, generated columns, and (when the table was committed with
        stats_cols) per-column null counts plus exact-row-count when every
        file carries stats.  O(manifest) driver work; the operational
        at-a-glance a 100 TB table needs before anyone plans a scan."""
        if version is None:
            cur = self._latest()
            if cur is None:
                raise NoSuchVersion(f"{self.path} has no committed version")
            version, m = cur
        else:
            m = self._read_manifest(version)
        files = [rel for fl in m["partitions"].values() for rel in fl]
        stats = m.get("stats") or {}
        inv = self._inv(m)
        retired = set(m.get("dropped") or ())
        out = {
            "path": self.path,
            "version": version,
            "operation": m.get("operation"),
            "committed_at_ms": m.get("committed_at_ms"),
            "partition_by": self._logical_pby(m),
            "n_partitions": len(m["partitions"]),
            "n_files": len(files),
            # user-facing: LOGICAL names (column mapping applied)
            "schema": {
                inv.get(c, c): t
                for c, t in self._parse_schema(m["schema"]).items()
            },
            "evolved": bool(m.get("evolved")),
            "widened": bool(m.get("widened")),
            "generated": dict(m.get("generated") or {}),
            "column_mapping": dict(m.get("mapping") or {}),
            "dropped_columns": sorted(retired),
            "stats_cols": sorted(
                {
                    inv.get(c, c)
                    for ent in stats.values()
                    for c, v in ent.items()
                    if "mn" in v and c not in retired
                }
            ),
            "bloom_cols": sorted(
                {
                    inv.get(c, c)
                    for ent in stats.values()
                    for c, v in ent.items()
                    if "bf" in v and c not in retired
                }
            ),
        }
        out["n_dv_files"] = len(m.get("dv") or [])
        out["partition_type"] = m.get("partition_type") or (
            "string" if m["partition_by"] else None
        )
        # partition spec evolution: entries still laid out under retired
        # specs ("<old_col>\x1f<value>" keys) — migrate() rewrites them
        out["legacy"] = sorted(k for k in m["partitions"] if _SPEC_SEP in k)
        out["n_legacy_files"] = sum(
            len(m["partitions"][k]) for k in out["legacy"]
        )
        # exact row count falls out of the null-count bookkeeping only when
        # EVERY live file was stats'd with at least one column recording
        # both a rowcount ("n") — older stats entries lack it, so absence
        # degrades to None rather than a wrong number; live deletion
        # vectors likewise degrade it (file rowcounts are pre-tombstone)
        counts = []
        for rel in files:
            ent = stats.get(rel) or {}
            ns = [v["n"] for v in ent.values() if isinstance(v, dict) and "n" in v]
            if not ns:
                counts = None
                break
            counts.append(ns[0])
        out["n_rows"] = (
            sum(counts) if counts is not None and not out["n_dv_files"] else None
        )
        return out

    def _apply_dv(self, df: DataFrame, dv_rels: list[str]) -> DataFrame:
        """Anti-apply position tombstones to a SCAN DataFrame (``df`` must
        be directly off ``spark.read.parquet`` so ``_metadata`` resolves).
        The tombstone side broadcasts: deletion vectors are small by
        design — that is their entire point (drop 100 rows from a 1 GB
        file without rewriting it); once tombstones stop being small,
        copy-on-write :meth:`delete` (or :meth:`compact`, which reads
        through the DVs and so folds them in) is the right tool."""
        if not dv_rels:
            return df
        tomb = self.spark.read.parquet(
            *[self._abs(r) for r in dv_rels]
        ).select("__dvf", "__dvi")
        out_cols = df.columns
        return (
            df.withColumn("__dvf", F.col("_metadata.file_path"))
            .withColumn("__dvi", F.col("_metadata.row_index"))
            .join(F.broadcast(tomb), ["__dvf", "__dvi"], "left_anti")
            .select(*out_cols)
        )

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY from raw manifests alone — O(1) JSON per
        retained version, no state reconstruction, no data IO: version
        chain, operation, commit time, and the operation's own metadata
        (merge/delete rewrite counts, compacted partitions, rename/respec
        parameters, ingest batch ids — whatever the commit recorded)."""
        return [
            {
                "version": m["version"],
                "parent": m.get("parent"),
                "operation": m.get("operation"),
                "committed_at_ms": m.get("committed_at_ms"),
                "meta": dict(m.get("meta") or {}),
            }
            for m in (self._read_manifest_raw(v) for v in self.versions())
        ]

    def read_changes(
        self,
        v_from: int,
        v_to: int | None = None,
        skip_compactions: bool = False,
    ) -> DataFrame | None:
        """File-granularity CHANGE DATA FEED: every row added or removed by
        the commits AFTER snapshot ``v_from`` (0 = "before the first
        commit") up to and including ``v_to`` (None = latest), tagged with
        ``_change_type`` ('insert' | 'delete'), ``_commit_version`` and
        ``_commit_operation``.  This is the O(delta) consumption path: a
        two-snapshot comparison re-reads BOTH snapshots in full, while the
        feed plans exactly the manifests' per-commit file-list differences
        — a downstream pipeline over a 100 TB table reads the day's changed
        files, never the table.

        Semantics are Delta Lake's CDF-without-change-files contract:
        copy-on-write DML (delete/update/merge/compact) rewrites whole
        files, so a rewritten file's rows appear as delete+insert pairs
        and untouched rows cancel under the per-row netting every
        consumer applies (``GROUP BY row HAVING SUM(±1) != 0``, or
        signed-sum aggregate maintenance).  Per-commit fidelity is
        preserved: a row inserted at v2 and deleted at v3 appears twice,
        once per commit, in commit order.

        Requires manifests ``v_from .. v_to`` retained (vacuum raises
        :class:`NoSuchVersion` past its horizon); the removed files
        themselves are safe while the PREVIOUS manifest is retained,
        which the same horizon guarantees.  Returns None when no commit
        in the range changed any file.  Reference stake: the reference
        rebuilds gold from scratch every run (jobs/build_feature_views.py)
        — this feed is what lets a consumer NOT do that.

        ``skip_compactions=True`` omits the events of commits whose meta
        carries ``compacted`` (the :meth:`compact`/zorder maintenance
        path — the one rewrite surface that preserves the row multiset by
        construction).  Sound for NETTING consumers even when a later DML
        rewrites a compacted file: the compacted file's values equal the
        values of the files it replaced, which the feed DID emit (or the
        v_from baseline holds), so per-row sums still cancel exactly — the
        Delta ``dataChange=false`` analogue.  Per-commit-fidelity
        consumers (audit trails) must leave it off.  At scale this is the
        difference between a consumer re-reading a compacted terabyte of
        no-op churn and reading nothing.

        The version walk itself is metadata-cheap: a DELTA manifest's
        events are computed from its ``delta`` entry in O(touched
        partitions' files); only full manifests (overwrites, checkpoint
        boundaries) pay a full-map diff."""
        if v_to is None:
            cur = self._latest()
            if cur is None:
                raise NoSuchVersion(f"{self.path} has no committed version")
            v_to = cur[0]
        if v_from < 0 or v_to < v_from:
            raise ValueError(f"bad change range ({v_from}, {v_to}]")
        if v_to == v_from:
            return None

        m_to = self._read_manifest(v_to)
        target = self._parse_schema(m_to["schema"])  # sorted name -> type
        pby_to = m_to["partition_by"]
        # the feed's output schema is the ENDPOINT's logical view: matching
        # is by PHYSICAL name (stable across renames, so a mid-feed rename
        # carries values seamlessly — the rename commit itself emits no
        # events), aliasing is by v_to's mapping, and columns v_to retired
        # (DROP COLUMN) are absent from its schema so they never ride
        inv_to = self._inv(m_to)
        # scan tuples: (v, op, change_type, files, dv_apply, dv_select) —
        # dv_apply anti-filters tombstones already in force at the scan's
        # snapshot side (dv(v) for inserts, dv(v-1) for removals, so a
        # position-deleted row never rides a later full-file event);
        # dv_select is the DELETION-VECTOR delta itself: the commit's new
        # tombstones SEMI-select their rows out of the covered files as
        # delete events
        scans: list[tuple[int, str, str, list[str], list[str], list[str]]] = []
        # rolling partition map, advanced per commit — delta manifests
        # touch only their own entries, never a full-table rebuild
        parts: dict[str, list[str]] = (
            {}
            if v_from == 0
            else {
                pv: list(fl)
                for pv, fl in self._read_manifest(v_from)["partitions"].items()
            }
        )
        dv_prev: set[str] = (
            set()
            if v_from == 0
            else set(self._read_manifest(v_from).get("dv") or [])
        )
        for v in range(v_from + 1, v_to + 1):
            raw = self._read_manifest_raw(v)
            op = raw.get("operation") or ""
            dv_curr = set(raw.get("dv") or [])
            added: list[str] = []
            removed: list[str] = []
            if "delta" in raw:
                d = raw["delta"]
                for pv in d.get("partitions_dropped", ()):
                    removed += parts.pop(pv, [])
                for pv, files in (d.get("partitions_set") or {}).items():
                    old = set(parts.get(pv, ()))
                    new = set(files)
                    added += new - old
                    removed += old - new
                    parts[pv] = list(files)
            else:
                # FULL manifest: diff the FLAT file sets, not per-key lists
                # — a respec (partition spec evolution) renames every key
                # while touching no file, and per-key diffing would emit a
                # whole-table delete+insert pair of pure churn for it
                newparts = raw["partitions"]
                flat_old = {f for fl in parts.values() for f in fl}
                flat_new = {f for fl in newparts.values() for f in fl}
                added += flat_new - flat_old
                removed += flat_old - flat_new
                parts = {pv: list(fl) for pv, fl in newparts.items()}
            dv_new = sorted(dv_curr - dv_prev)
            dv_before, dv_prev = sorted(dv_prev), dv_curr
            if skip_compactions and "compacted" in (raw.get("meta") or {}):
                continue
            if added:
                scans.append((v, op, "insert", sorted(added), sorted(dv_curr), []))
            if removed:
                scans.append((v, op, "delete", sorted(removed), dv_before, []))
            if dv_new:
                scans.append((v, op, "delete", [], dv_before, dv_new))
        if not scans:
            return None
        frames = []
        for v, op, ctype, rels, dv_apply, dv_select in scans:
            if dv_select:
                # the tombstone files name their covered data files; the
                # distinct-file collect is tombstone-sized (small by the
                # DV design contract), never table-sized
                tomb = self.spark.read.parquet(
                    *[self._abs(r) for r in dv_select]
                )
                rels = [
                    r[0] for r in tomb.select("__dvf").distinct().collect()
                ]
            # deletes at v are files that were live at v-1: THAT manifest
            # owns their schema/partition context (an overwrite may have
            # changed both at v)
            bm = self._read_manifest(v if ctype == "insert" else v - 1)
            df = self._scan_files(bm, rels)
            pby = bm["partition_by"]
            if self._has_legacy(bm) or bm.get("partition_type"):
                df = self._restore_partition_cols(df, bm)
            elif pby:
                df = df.withColumn(
                    pby,
                    _unescape_pval_col(
                        F.regexp_extract(
                            F.input_file_name(), f"{pby}=([^/]+)/", 1
                        )
                    ),
                )
            if dv_apply or dv_select:
                df = df.withColumn(
                    "__dvf", F.col("_metadata.file_path")
                ).withColumn("__dvi", F.col("_metadata.row_index"))
            if dv_apply:
                # tombstones already in force at this scan's snapshot side
                # must not ride a later full-file event
                t0 = self.spark.read.parquet(
                    *[self._abs(r) for r in dv_apply]
                ).select("__dvf", "__dvi")
                df = df.join(F.broadcast(t0), ["__dvf", "__dvi"], "left_anti")
            if dv_select:
                t1 = self.spark.read.parquet(
                    *[self._abs(r) for r in dv_select]
                ).select("__dvf", "__dvi")
                df = df.join(F.broadcast(t1), ["__dvf", "__dvi"], "left_semi")
            # normalize every scan to v_to's schema: null-fill columns the
            # files predate, drop columns an overwrite retired, and CAST
            # present columns to the endpoint type (a full overwrite is the
            # sanctioned retype path, so pre-overwrite events may carry the
            # old type) — the union is well-typed across evolution and
            # schema-changing overwrites alike; a non-coercible retype
            # surfaces as an AnalysisException here, not a silent mistype
            cols = [
                F.col(c).cast(t).alias(inv_to.get(c, c))
                if c in df.columns
                else F.lit(None).cast(t).alias(inv_to.get(c, c))
                for c, t in target.items()
            ]
            if pby_to:
                pt_to = m_to.get("partition_type") or "string"
                cols.append(
                    (
                        F.col(pby_to).cast(pt_to)
                        if pby_to in df.columns
                        else F.lit(None).cast(pt_to)
                    ).alias(inv_to.get(pby_to, pby_to))
                )
            frames.append(
                df.select(
                    *cols,
                    F.lit(ctype).alias("_change_type"),
                    F.lit(v).cast("int").alias("_commit_version"),
                    F.lit(op).alias("_commit_operation"),
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def restore(self, version: int, extra_meta: dict | None = None) -> int:
        """RESTORE the table to the exact state of ``version`` as a NEW
        commit (the Delta RESTORE shape): the target's partition map,
        stats, schema, and evolution flag are re-committed BY REFERENCE —
        no file is read, copied, or rewritten, so undoing a bad commit on
        a 100 TB table costs one manifest write.  History is preserved:
        time travel still reaches the undone commits until vacuum, and the
        change feed shows the restore as one commit whose file delta
        exactly un-does what it reverts (netted consumers see the logical
        rollback).  The target's files are guaranteed live because vacuum
        retains every file referenced by a retained manifest, and reading
        the target's manifest is what this starts with (vacuumed targets
        raise :class:`NoSuchVersion`).  A racing commit surfaces
        :class:`ConcurrentCommit` unrebased — a restore pins an exact
        state, so silently replaying it onto a different base would be
        wrong.  Restoring the current version is a no-op (returns it)."""
        cur = self._latest()
        if cur is None:
            raise NoSuchVersion(f"{self.path} has no committed version")
        v0, m0 = cur
        if version == v0:
            return v0
        tgt = self._read_manifest(version)
        meta = dict(extra_meta or {})
        meta["restored_version"] = version
        manifest = {
            "version": v0 + 1,
            "parent": v0,
            "operation": "restore",
            "partition_by": tgt["partition_by"],
            "schema": tgt["schema"],
            "partitions": {k: list(f) for k, f in tgt["partitions"].items()},
            "stats": dict(tgt.get("stats") or {}),
            "committed_at_ms": int(time.time() * 1000),
            "meta": meta,
        }
        if tgt.get("evolved"):
            manifest["evolved"] = True
        if tgt.get("widened"):
            manifest["widened"] = True
        if tgt.get("dv"):
            manifest["dv"] = list(tgt["dv"])
        if tgt.get("mapping"):
            # the target's column mapping is part of its state: restoring
            # across a rename/drop restores the names of that era
            manifest["mapping"] = dict(tgt["mapping"])
        if tgt.get("dropped"):
            manifest["dropped"] = sorted(tgt["dropped"])
        if tgt.get("partition_type"):
            manifest["partition_type"] = tgt["partition_type"]
        if tgt.get("generated"):
            manifest["generated"] = dict(tgt["generated"])
        return self._commit_state(manifest, v0 + 1, m0)

    def _commit_meta_change(
        self,
        v0: int,
        m0: dict,
        operation: str,
        *,
        mapping: dict[str, str] | None = None,
        dropped: list[str] | None = None,
        schema: str | None = None,
        meta: dict | None = None,
        generated: dict[str, str] | None = None,
    ) -> int:
        """O(manifest) metadata commit: same files, new table metadata
        (column mapping, retired columns, logical schema, generated set).
        ``None`` keyword = carry ``m0``'s value unchanged."""
        manifest = {
            "version": v0 + 1,
            "parent": v0,
            "operation": operation,
            "partition_by": m0["partition_by"],
            "schema": m0["schema"] if schema is None else schema,
            "partitions": {k: list(f) for k, f in m0["partitions"].items()},
            "stats": dict(m0.get("stats") or {}),
            "committed_at_ms": int(time.time() * 1000),
            "meta": dict(meta or {}),
        }
        if m0.get("evolved"):
            manifest["evolved"] = True
        if m0.get("widened"):
            manifest["widened"] = True
        if m0.get("dv"):
            manifest["dv"] = list(m0["dv"])
        mp = m0.get("mapping") if mapping is None else mapping
        dr = m0.get("dropped") if dropped is None else dropped
        if mp:
            manifest["mapping"] = dict(mp)
        if dr:
            manifest["dropped"] = sorted(dr)
        if m0.get("partition_type"):
            manifest["partition_type"] = m0["partition_type"]
        gn = m0.get("generated") if generated is None else generated
        if gn:
            manifest["generated"] = dict(gn)
        return self._commit_state(manifest, v0 + 1, m0)

    def _enforce_staged(
        self,
        staged: dict[str, list[str]],
        pby: str | None,
        what: str,
        cons: dict[str, str],
        m: dict | None = None,
    ) -> None:
        """Enforce ``cons`` (the implicit CHECKs of the CALLER's
        base-snapshot generated set — the same set the OCC rebase guard
        compares, so validation and conflict detection can never
        disagree) on JUST-STAGED files,
        deleting them before raising so a violating commit leaves no
        garbage.  Validating the staged parquet (page-cache-hot,
        column-pruned to the constraint columns) is strictly cheaper than
        re-executing the caller's input plan — which at table scale may
        be a full join pipeline — and is why every write path enforces
        post-stage, pre-CAS."""
        if not cons:
            return
        rels = [rel for files in staged.values() for rel in files]
        if not rels:
            return
        df = self.spark.read.parquet(*[self._abs(rel) for rel in rels])
        if pby and pby not in df.columns:
            ex = _unescape_pval_col(
                F.regexp_extract(F.input_file_name(), f"{pby}=([^/]+)/", 1)
            )
            pt = (m or {}).get("partition_type")
            df = df.withColumn(pby, ex.cast(pt) if pt else ex)
        try:
            # constraint expressions speak logical names; staged files are
            # physical (``m`` = the base manifest whose mapping applies)
            self._enforce(self._logical_view(df, m), cons, what)
        except ConstraintViolation:
            fs, jvm = _fs(self.spark, self.path)
            for rel in rels:
                try:
                    fs.delete(_jpath(jvm, self._abs(rel)), False)
                except Exception:  # noqa: BLE001 — unreferenced; vacuum sweeps
                    pass
            raise

    def _enforce(self, df: DataFrame, cons: dict[str, str], what: str) -> None:
        """ONE aggregate job counting violators of every constraint at
        once (violation = expr IS FALSE; NULL passes).  Raises with the
        per-constraint counts; the commit that called this never happens.
        The validation scan is the enforcement cost — at table scale the
        write being validated dominates it, and it runs on exactly the
        rows being committed (DML rewrites validate only the rewritten
        candidates)."""
        if not cons:
            return
        names = sorted(cons)
        row = df.agg(
            *[
                F.sum(
                    F.when(
                        ~F.coalesce(F.expr(cons[n]).cast("boolean"), F.lit(True)),
                        1,
                    ).otherwise(0)
                ).alias(n)
                for n in names
            ]
        ).collect()[0]
        bad = {n: int(row[n]) for n in names if row[n]}
        if bad:
            raise ConstraintViolation(
                f"{what} violate CHECK constraints "
                + ", ".join(f"{n} ({cons[n]!r}): {c} rows" for n, c in bad.items())
            )

    # -- maintenance ---------------------------------------------------------

    def compact(
        self,
        partitions: list[str] | None = None,
        order_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        files_per_partition: int = 4,
        zorder_method: str = "linear",
        extra_meta: dict | None = None,
    ) -> int:
        """Small-file OPTIMIZE: rewrite each selected partition (default:
        every partition holding more than one file), committed as a normal
        snapshot-isolated version — readers on older versions keep their
        exact file lists, rows are byte-for-byte the same set.  Returns the
        committed version, or the current one when nothing needs
        compacting.  Streaming sinks make this the natural follow-up job:
        every micro-batch commit adds a file per touched partition.

        Layout modes:

        - default / ``order_by``: each partition collapses to ONE file,
          optionally sorted within it (stats-locality clustering: tight
          per-file min/max on the sort columns);
        - ``zorder_by=[c1, c2, ...]``: multi-dimensional clustering
          (Delta's OPTIMIZE ZORDER BY).  Rows are ordered by the
          interleaved-bit z-value of the named columns and range-split
          into ``files_per_partition`` files per partition, so every
          file covers a small axis-aligned box in (c1, c2, ...) space —
          per-file min/max stats become tight in EVERY named dimension
          simultaneously, and ``read(prune=...)`` skips files for
          predicates on ANY of them (a single-column sort can only serve
          its leading column).  The z-clustered commit records stats for
          the zorder columns automatically (unioned with the table's
          existing stats set).  At 100 TB this is the standard layout
          answer to "we filter this table by BOTH customer and date".
        """
        if order_by and zorder_by:
            raise ValueError("order_by and zorder_by are exclusive")
        cur = self._latest()
        if cur is None:
            raise ValueError("compact needs an existing table")
        v0, m0 = cur
        pby = m0["partition_by"]
        if not pby:
            raise ValueError("compact targets partitioned tables")
        if partitions is not None and any(_SPEC_SEP in p for p in partitions):
            # replace-semantics would clobber a current-spec entry sharing
            # the migrated rows' partition value; migrate() merges instead
            raise ValueError(
                "legacy-spec entries cannot be compacted in place: "
                "use migrate() to rewrite them into the current layout"
            )
        # caller speaks TRUE values (same convention as
        # overwrite_partitions / read); manifest keys match via _unq only.
        # Escaped-key misuse fails loud — a silent no-op compact that
        # "succeeded" is worse than the error.
        want = (
            {str(x) for x in partitions} if partitions is not None else None
        )
        if want is not None:
            _check_retired_key_misuse(want, m0["partitions"], "compact")
        sel = [
            p
            for p, files in m0["partitions"].items()
            if _SPEC_SEP not in p
            and (
                (want is None and len(files) > 1)
                or (want is not None and _unq(p) in want)
            )
        ]
        if not sel:
            return v0
        # the read() snapshot is LOGICAL (column mapping applied); all frame
        # operations below therefore use logical names, and the
        # overwrite_partitions hand-off converts back at staging.  Exact
        # key selection: a maintenance rewrite must read exactly the
        # entries it replaces — never the always-planned legacy files.
        df = self.read(version=v0, partitions=sel, _exact_partitions=True)
        pby = self._logical_pby(m0)
        inv = self._inv(m0)
        retired = set(m0.get("dropped") or ())
        stats_cols = None
        if zorder_by:
            missing = [c for c in zorder_by if c not in df.columns]
            if missing:
                raise ValueError(f"zorder columns not in table: {missing}")
            cols = list(df.columns)
            z = _zvalue_expr(df, zorder_by, method=zorder_method)
            # range-split on (partition, z): every task holds one
            # partition value's contiguous z-slab -> partitionBy staging
            # emits one file per slab with tight min/max in every zorder
            # dimension.  The sample pass repartitionByRange runs is one
            # extra job over the selected partitions — the price of
            # balanced slabs (Delta pays the same).
            df = (
                df.withColumn("__z", z)
                .repartitionByRange(
                    max(len(sel) * max(files_per_partition, 1), 1),
                    F.col(pby),
                    F.col("__z"),
                )
                .sortWithinPartitions(pby, "__z")
                .select(*cols)
            )
            inherited: list[str] = []
            for ent in (m0.get("stats") or {}).values():
                # stats keys are physical; the hand-off below speaks logical
                inherited += [
                    inv.get(c, c)
                    for c in ent
                    if c not in retired and inv.get(c, c) not in inherited
                ]
            stats_cols = inherited + [c for c in zorder_by if c not in inherited]
        else:
            # hash-clustering on the partition value puts every value's
            # rows in one task -> the writer emits one file per partition
            df = df.repartition(max(len(sel), 1), F.col(pby))
            if order_by:
                df = df.sortWithinPartitions(*order_by)
        meta = {"compacted": sorted(sel)}
        if zorder_by:
            meta["zorder_by"] = list(zorder_by)
            meta["zorder_method"] = zorder_method
        meta.update(extra_meta or {})
        # base_version: the rewritten rows are v0's — a commit racing in
        # between must fail the CAS, not be replaced by stale bytes.
        # sel holds ESCAPED manifest keys (exact-read selection above);
        # the overwrite contract takes TRUE values, so unescape here
        # (ADVICE r11 #1 — the dual-match it replaced could drop a
        # colliding partition's files)
        return self.overwrite_partitions(
            df,
            partition_values=sorted(_unq(p) for p in sel),
            extra_meta=meta,
            base_version=v0,
            stats_cols=stats_cols,
            _maintenance=True,
        )

    def vacuum(
        self,
        keep_versions: int = 2,
        min_age_ms: int = 3_600_000,
        keep_ms: int | None = None,
    ) -> list[str]:
        """Delete data files referenced by NO retained manifest and any
        abandoned stage directories; drop manifests older than the newest
        ``keep_versions``.  Returns the deleted paths (table-relative).

        Two safety horizons: any reader holding a snapshot within the
        retained version window keeps a valid file list; and files younger
        than ``min_age_ms`` are NEVER deleted — an in-flight writer's
        staged-but-not-yet-committed files are unreferenced by definition,
        and the age guard (Delta's retention-period mitigation) keeps a
        concurrent vacuum from eating its commit.  Pass ``min_age_ms=0``
        only when no writer can be live.

        ``keep_ms`` adds TIME-BASED retention (Delta's
        ``delta.deletedFileRetentionDuration`` shape): every version
        committed within the last ``keep_ms`` milliseconds is retained in
        ADDITION to the newest ``keep_versions`` — "time travel stays
        available for N days" becomes a policy instead of a version-count
        guess at commit cadence.  Commit timestamps come from different
        writer machines, so they are NOT assumed monotone: retention is
        forced CONTIGUOUS from the oldest version that qualifies on either
        criterion (ADVICE r10 #4) — a skewed clock must not punch a hole
        in the middle of the retained range, because a retained DELTA
        manifest above such a gap would lose its reconstruction chain and
        only the single oldest retained version is checkpointed below."""
        vs = self.versions()
        if not vs:
            return []
        keep = vs[-max(keep_versions, 1) :]
        if keep_ms is not None:
            cutoff_ts = int(time.time() * 1000) - max(keep_ms, 0)
            qualifying = [
                v
                for v in vs
                if self._read_manifest_raw(v).get("committed_at_ms", 0)
                >= cutoff_ts
            ]
            lo = min([keep[0], *qualifying])
            keep = [v for v in vs if v >= lo]
        referenced: set[str] = set()
        for v in keep:
            mv = self._read_manifest(v)
            for files in mv["partitions"].values():
                referenced.update(files)
            # deletion-vector files are live state: deleting one would
            # RESURRECT its tombstoned rows in every retained snapshot
            referenced.update(mv.get("dv") or [])
        fs, jvm = _fs(self.spark, self.path)
        # The oldest retained version may be a DELTA manifest whose
        # reconstruction chain runs through manifests about to be deleted:
        # materialize its complete state as a checkpoint FIRST (Delta's
        # checkpoint recipe), so every retained version stays readable
        # after the chain below it is gone.  Idempotent overwrite —
        # deterministic content, and a crash between this write and the
        # manifest deletes just leaves a redundant checkpoint.
        oldest = keep[0]
        if "delta" in self._read_manifest_raw(oldest):
            st = self._read_manifest(oldest)
            cp = _jpath(jvm, self._checkpoint_path(oldest))
            out = fs.create(cp, True)
            try:
                out.write(json.dumps(st, sort_keys=True).encode("utf-8"))
            finally:
                out.close()
        deleted: list[str] = []
        cutoff = int(time.time() * 1000) - min_age_ms
        data_root = _jpath(jvm, f"{self.path}/{_DATA_DIR}")
        if fs.exists(data_root):
            stack = [data_root]
            while stack:
                d = stack.pop()
                for st in fs.listStatus(d):
                    p = st.getPath()
                    name = p.getName()
                    if st.isDirectory():
                        if name.startswith("_stage_"):
                            if st.getModificationTime() <= cutoff:
                                fs.delete(p, True)
                                deleted.append(_rel(self.path, p))
                        else:
                            stack.append(p)
                        continue
                    rel = _rel(self.path, p)
                    if rel not in referenced and st.getModificationTime() <= cutoff:
                        fs.delete(p, False)
                        deleted.append(rel)
        keep_set = set(keep)
        for v in vs:
            if v not in keep_set:
                fs.delete(_jpath(jvm, self._manifest_path(v)), False)
                fs.delete(_jpath(jvm, self._checkpoint_path(v)), False)
                self._state_cache.pop(v, None)
        return sorted(deleted)


def _zvalue_expr(
    df: DataFrame, cols: list[str], bits: int = 8, method: str = "linear"
):
    """Interleaved-bit z-value Column over ``cols``.

    Each column is bucketed into ``2**bits`` cells, then the cell indices'
    bits are interleaved: bit i of column j lands at position
    ``i*len(cols) + j``.  A contiguous z-range therefore bounds EVERY
    column to a small axis-aligned box, which is what makes per-file
    min/max tight in all dimensions at once.

    Cell methods (both driver-side literals — control-plane sized):

    - ``linear``: equal-width cells between the column's global min/max
      (one 2-scalar agg).  Cheapest, but skew-sensitive: a heavy-tailed
      column wastes most cells on its tail and crams the data mass into
      a few, so files stop separating where the rows actually are.
    - ``quantile``: equal-MASS cells from ``approxQuantile`` boundaries
      (Greenwald-Khanna, one pass, rel-err 0.01 — layout only ever needs
      approximate bounds).  The cell index is a codegen'd literal-array
      scan (``2**bits`` comparisons per row per column) — no join, no
      extra exchange; this is Delta's range-partition-id idea expressed
      as a pure Column.

    Nulls bucket to cell 0 (they sort first, and stats-based pruning
    never drops files on null bounds).  Everything here is a pure Column
    expression consumed by the repartitionByRange that follows."""
    n = 2**bits
    z = F.lit(0).cast("long")
    if method == "quantile":
        qs = [i / n for i in range(1, n)]
        for j, c in enumerate(cols):
            bounds = df.stat.approxQuantile(c, qs, 0.01)
            if not bounds or bounds[0] == bounds[-1]:
                continue  # constant or all-null column contributes nothing
            barr = F.array(*[F.lit(float(b)) for b in bounds])
            idx = F.aggregate(
                barr,
                F.lit(0).cast("long"),
                lambda acc, b: acc
                + F.when(F.col(c).cast("double") >= b, F.lit(1))
                .otherwise(F.lit(0))
                .cast("long"),
            )
            z = _interleave(z, idx, bits, j, len(cols))
        return z
    if method != "linear":
        raise ValueError(f"unknown zorder method {method!r}")
    aggs = []
    for j, c in enumerate(cols):
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"__mn{j}"),
            F.max(F.col(c).cast("double")).alias(f"__mx{j}"),
        ]
    row = df.agg(*aggs).collect()[0]
    for j, c in enumerate(cols):
        mn, mx = row[f"__mn{j}"], row[f"__mx{j}"]
        if mn is None or mx is None or mx <= mn:
            continue  # constant or all-null column contributes nothing
        idx = F.least(
            F.lit(n - 1),
            F.greatest(
                F.lit(0),
                F.width_bucket(
                    F.col(c).cast("double"), F.lit(float(mn)), F.lit(float(mx)), F.lit(n)
                )
                - 1,
            ),
        )
        idx = F.coalesce(idx, F.lit(0)).cast("long")
        z = _interleave(z, idx, bits, j, len(cols))
    return z


def _interleave(z, idx, bits: int, j: int, n_cols: int):
    for i in range(bits):
        bit = F.shiftright(idx, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(bit, i * n_cols + j))
    return z


def _json_scalar(v):
    """Manifest-storable form of a stats value.  Numbers/bools/None stay
    native; everything else (dates, timestamps, decimals, strings) becomes
    its canonical string — ISO formats compare correctly as strings, which
    is all pruning needs."""
    import datetime
    import decimal

    if v is None or isinstance(v, (int, float, bool)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    return str(v)


_INT_RANK = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}
_FLOAT_RANK = {"float": 1, "double": 2}


def _widens(old: str, new: str) -> bool:
    """True when parquet files written as ``old`` read losslessly under an
    explicit ``new`` schema (verified against Spark's vectorized reader):
    the integer chain, float -> double, any integer -> double, and
    same-scale decimal precision growth."""
    if old == new:
        return False
    if old in _INT_RANK and new in _INT_RANK:
        return _INT_RANK[old] < _INT_RANK[new]
    if old in _FLOAT_RANK and new == "double":
        return True
    if _INT_RANK.get(old, 9) <= 3 and new == "double":
        return True  # <= int32 is float64-exact; bigint -> double is LOSSY
    if old.startswith("decimal(") and new.startswith("decimal("):
        try:
            po, so = (int(x) for x in old[8:-1].split(","))
            pn, sn = (int(x) for x in new[8:-1].split(","))
        except ValueError:
            return False
        return sn == so and pn > po
    return False


_BLOOM_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _bloom_key(value, dtype: str | None) -> str | None:
    """The exact string the Spark-side bloom build hashed
    (``CAST(col AS STRING)``) for this probe value, or None when the
    python rendering is not guaranteed to match (then the bloom is simply
    not consulted — conservative).

    ``dtype`` is the bloom'd column's Spark type recorded at build time
    (``bf["t"]``); probe keys are only produced for (type, probe) pairs
    whose python rendering provably equals Spark's CAST-to-string.  An
    int probe against a DOUBLE column, for example, would render "7"
    while the build hashed "7.0" — a guaranteed bloom FALSE NEGATIVE
    that silently pruned files containing matching rows, so such probes
    fall back to range-only pruning.  Manifests committed before types
    were recorded (no ``"t"``) only allow string probes.
    """
    import datetime

    if dtype in _BLOOM_INT_TYPES:
        if isinstance(value, bool):
            return None  # CAST(int AS STRING) never renders true/false
        if isinstance(value, int):
            return str(value)
        if isinstance(value, float) and value.is_integer():
            return str(int(value))  # equal int exists; build hashed it
        return None
    if dtype == "string":
        return value if isinstance(value, str) else None
    if dtype == "boolean":
        if isinstance(value, bool):
            return "true" if value else "false"
        return None
    if dtype == "date":
        if isinstance(value, datetime.datetime):
            return None
        if isinstance(value, datetime.date):
            return value.isoformat()  # Spark CAST(date AS STRING) is ISO
        return None
    if dtype is None and isinstance(value, str):
        return value  # legacy manifest: strings render identically
    return None


def _bloom_may_contain(bf: dict, value) -> bool:
    """False only when the file's bloom PROVES the value absent."""
    import hashlib

    key = _bloom_key(value, bf.get("t"))
    if key is None:
        return True
    m, hexs = int(bf["m"]), bf["x"]
    for j in range(4):
        p = int(hashlib.md5(f"bf{j}#{key}".encode()).hexdigest()[:8], 16) % m
        w, b = p // 64, p % 64
        if not (int(hexs[w * 16 : (w + 1) * 16], 16) >> b) & 1:
            return False
    return True


def _stats_may_match(file_stats: dict | None, col: str, op: str, value) -> bool:
    """True unless the file's [min, max] range — or, for equality probes,
    its bloom filter — PROVES no row satisfies ``col op value``.  Missing
    stats (un-stats'd commit, unknown column, all-null file stats) =>
    True: skipping must never drop a file it cannot reason about."""
    if not file_stats or col not in file_stats:
        return True
    ent = file_stats[col]
    if op == "=" and "bf" in ent and not _bloom_may_contain(ent["bf"], value):
        return False
    if "mn" not in ent and "mx" not in ent:
        return True  # bloom-only entry: no range to reason with
    mn, mx = ent.get("mn"), ent.get("mx")
    if mn is None or mx is None:  # all-null file: no non-null row matches,
        return False              # and NULL op value is never true
    v = _json_scalar(value)
    # compare like with like: if stats were stored as strings (dates,
    # timestamps), coerce the probe to its canonical string too
    if isinstance(mn, str) and not isinstance(v, str):
        v = str(_json_scalar(value))
    try:
        if op == "=":
            return mn <= v <= mx
        if op == ">=":
            return mx >= v
        if op == ">":
            return mx > v
        if op == "<=":
            return mn <= v
        if op == "<":
            return mn < v
    except TypeError:  # cross-type comparison: refuse to prune
        return True
    raise ValueError(f"unsupported prune op {op!r}")


def _rel(root: str, jpath) -> str:
    s = str(jpath.toUri().getPath())
    # root may carry a scheme (file:///x); compare on the path component
    root_path = root.split("://", 1)[-1]
    if not root_path.startswith("/"):
        root_path = "/" + root_path
    idx = s.find(root_path)
    return s[idx + len(root_path) + 1 :] if idx >= 0 else s
