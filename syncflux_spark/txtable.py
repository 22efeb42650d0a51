"""TxTable: a minimal transactional parquet table (commit-log +
optimistic concurrency) — the multi-writer upgrade path for the
overwrite-based writers.

The advisory locks (locking.py) ENFORCE the single-writer contract;
this module REMOVES it for the tables that need true concurrency
(the chunked copy/replication sinks and a compactor on one table).
The design is the standard lakehouse shape, cut to the bone:

* ``{root}/data/<uuid>.parquet/`` — immutable data-file groups; a
  writer only ever ADDS new groups, never mutates existing ones.
* ``{root}/_txlog/{version:08d}.json`` — the commit log. Two commit
  kinds:

  - **snapshot** commits record the COMPLETE file-group list (plus
    per-group stats/tags). Every ``checkpoint_interval``-th version
    is a snapshot, and so is any commit whose full list is no longer
    than its delta would be (version 0, a swap of every group).
  - **delta** commits record only ``add``/``remove`` group lists
    (plus stats/tags for the adds) against the previous version.

  A reader resolves state by walking back from the target version to
  the nearest snapshot and replaying deltas forward — O(interval)
  log files regardless of table age, so a 5-minute-chunk replicator
  making ~100k commits/year never re-reads its history (the wall the
  pre-checkpoint full-listing format hit at thousands of commits;
  test: tests/test_tx_routing.py::TestLogCheckpointing, 5k commits).
  One walk (``_state_at``) yields files, stats, tags and the TABLE
  SCHEMA together: the log records the schema on every snapshot
  commit once the table has one, and on a delta only when the commit
  changes it, so the write-time compatibility check and
  snapshot/scan planning read zero parquet footers. A log that lists
  data groups but no schema is rejected. ``version()`` rides a
  best-effort ``.last`` hint + forward probe instead of a directory
  listing.
* **Snapshot isolation**: a reader resolves the highest committed
  version once and reads exactly that file list — concurrent commits
  never produce a torn read.
* **Optimistic concurrency, one commit loop**: every writer
  (``create``, ``append``, ``replace_tagged``, ``swap_groups``,
  ``publish_with_audit``, ``expire_below``) is an *edit* of the parent
  state passed to ``_commit``. The loop resolves the parent once, lets
  the edit stage its data group and compute its add/remove lists and
  schema (checked against THAT parent), writes the full commit
  document to a temp file and atomically claims version ``V+1`` via
  ``os.link`` onto the log name (fails-if-exists like ``O_EXCL``, but
  the linked file already carries its complete content, so a
  concurrent reader can never observe a half-written commit; on object
  stores, a conditional PUT). A lost race re-runs the edit against the
  winner's state — adds commute, tag removals are recomputed — up to
  ``max_retries`` times, then :class:`CommitConflict`. A staged group
  whose commit does not land is deleted.
* **Tags**: a commit may label each added group with small key/value
  strings (``{"win": "<start>_<end>"}``). :meth:`replace_tagged`
  atomically swaps every group carrying one tag value for a new
  group — the engine's ``replaceWhere``: chunk replay in
  operators/copy.py re-runs a window by replacing exactly that
  window's groups, under OCC instead of an advisory lock.
* Crash safety: a writer dying before its commit leaves unreferenced
  data groups — invisible to every reader; :meth:`vacuum` removes
  groups unreferenced by the CURRENT commit once they are old enough
  to not belong to an in-flight writer (the same age discipline as
  operators/compact.py::clean_stale_staging). :meth:`vacuum_log`
  drops log files older than the newest snapshot at-or-before a
  horizon, bounding the log the same way vacuum bounds data.

Reference note: the reference has no table format at all (it
delegates storage to InfluxDB); this is the Spark-native answer to
the same durability need its replication loop gets from InfluxDB's
storage engine (pkg/agent/sync.go:95-213 writes through InfluxDB's
upsert; here the sink itself provides the transactionality).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

_LOG_DIR = "_txlog"
_DATA_DIR = "data"
_HINT = ".last"


class CommitConflict(RuntimeError):
    """Another writer committed first and the operation exhausted its
    rebase retries."""


class TxTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        checkpoint_interval: int = 100,
    ):
        if checkpoint_interval < 1:
            raise ValueError("checkpoint_interval must be >= 1")
        self.spark = spark
        self.root = root
        #: every Nth version is written as a full snapshot commit.
        #: Writers with different intervals interoperate — resolution
        #: walks to the NEAREST snapshot, whoever wrote it.
        self.checkpoint_interval = checkpoint_interval

    # -- log plumbing -------------------------------------------------------
    def _log_path(self, version: int) -> str:
        return os.path.join(self.root, _LOG_DIR, f"{version:08d}.json")

    def version(self) -> int:
        """Highest committed version, or -1 for an empty/absent log.

        Fast path: the ``.last`` hint file (updated best-effort after
        every commit) plus a forward probe — O(1 + staleness)
        existence checks instead of listing the directory, which at
        ~100k commits/year is the difference between one GET and a
        paged LIST on an object store. The hint is advisory only: it
        may lag behind concurrent writers (the probe walks forward)
        and a corrupt/missing hint falls back to the full listing —
        correctness never depends on it."""
        log = os.path.join(self.root, _LOG_DIR)
        try:
            with open(os.path.join(log, _HINT)) as f:
                hint = int(f.read().strip())
        except (FileNotFoundError, ValueError, OSError):
            hint = -1
        if hint >= 0 and os.path.exists(self._log_path(hint)):
            v = hint
            while os.path.exists(self._log_path(v + 1)):
                v += 1
            return v
        try:
            names = [
                n for n in os.listdir(log)
                if n.endswith(".json") and not n.startswith(".")
            ]
        except FileNotFoundError:
            return -1
        return max((int(n[:-5]) for n in names), default=-1)

    def _update_hint(self, version: int) -> None:
        """Best-effort ``.last`` advance (atomic replace; losers of a
        hint race leave a LOWER value, which the probe corrects)."""
        log = os.path.join(self.root, _LOG_DIR)
        tmp = os.path.join(log, f".hint-{uuid.uuid4().hex}")
        try:
            with open(tmp, "w") as f:
                f.write(str(version))
            os.replace(tmp, os.path.join(log, _HINT))
        except OSError:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def _read_doc(self, version: int) -> dict:
        """One commit document. Test seam for the O(log-files) bound
        (TestLogCheckpointing counts calls)."""
        with open(self._log_path(version)) as f:
            return json.load(f)

    def _state_at(
        self, version: int
    ) -> tuple[list[str], dict, dict, StructType | None]:
        """(files, stats, tags, schema) at ``version`` — the one log
        walk: back to the nearest snapshot commit, then replay deltas
        forward. Bounded by the checkpoint interval, never by table
        age. ``schema`` is the table schema the log records (every
        snapshot commit carries it once one exists, so the walk always
        reaches it); None only for a table that never held data.
        Version -1 (no commits) is the empty state."""
        chain: list[dict] = []
        v = version
        while v >= 0:
            doc = self._read_doc(v)
            chain.append(doc)
            if "files" in doc:
                break
            v -= 1
        if v < 0 <= version:
            raise ValueError(
                f"corrupt log at {self.root}: no snapshot commit "
                f"at or below version {version}"
            )
        files: list[str] = []
        stats: dict = {}
        tags: dict = {}
        schema = None
        for doc in reversed(chain):
            removed = set(doc.get("remove", ()))
            files = [r for r in doc.get("files", files) if r not in removed]
            files += doc.get("add", [])
            for r in removed:
                stats.pop(r, None)
                tags.pop(r, None)
            stats.update(doc.get("stats", {}))
            tags.update(doc.get("tags", {}))
            schema = doc.get("schema", schema)
        if files and schema is None:
            raise ValueError(
                f"log at {self.root} (version {version}) lists data "
                "groups but records no table schema"
            )
        return files, stats, tags, (
            StructType.fromJson(schema) if schema else None
        )

    def _files_at(self, version: int) -> list[str]:
        return self._state_at(version)[0]

    @staticmethod
    def _nullable(schema: StructType) -> StructType:
        return StructType(
            [StructField(f.name, f.dataType, True) for f in schema.fields]
        )

    @classmethod
    def _evolve(cls, cur, batch, allow_new_columns: bool):
        """The table schema after adding a group of schema ``batch``
        to a table of schema ``cur`` (None: the table never held
        data, so the batch defines it). New columns are appended after
        the existing ones, all nullable, so older groups read them as
        null; a new column needs ``allow_new_columns``. A TYPE change
        of an existing column always raises — the read would fail on
        the group's physical type, which is the worst place to find
        out. Pure schema arithmetic: no footer is read."""
        if cur is None:
            return cls._nullable(batch)
        current = {f.name: f.dataType for f in cur.fields}
        for f in batch.fields:
            if f.name in current:
                if f.dataType != current[f.name]:
                    raise ValueError(
                        f"column {f.name!r}: type {f.dataType.simpleString()} "
                        f"conflicts with existing "
                        f"{current[f.name].simpleString()} — schema evolution "
                        "adds columns, never retypes them"
                    )
            elif not allow_new_columns:
                raise ValueError(
                    f"column {f.name!r} not in table schema; pass "
                    "allow_new_columns=True to evolve the schema"
                )
        new = [f for f in batch.fields if f.name not in current]
        return cls._nullable(StructType(list(cur.fields) + new))

    def _write_group(
        self,
        df: DataFrame,
        stats_cols: list[str] | None = None,
        write_options: dict | None = None,
    ) -> tuple[str, dict | None]:
        """Write one immutable data group; returns ``(rel, stats)``.
        ``stats`` is the group's min/max per ``stats_cols``
        (numeric/string — the engine's canonical time is a ``ts_ns``
        long, so time ranges are covered), or None without stats
        columns. The min/max ride ``df.observe`` on the write pass
        itself — no second Spark job re-reads the group — and are
        saved forever in the commit log."""
        rel = os.path.join(_DATA_DIR, f"{uuid.uuid4().hex}.parquet")
        obs = None
        if stats_cols:
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            obs = Observation()
            aggs = []
            for c in stats_cols:
                aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
            df = df.observe(obs, *aggs)
        # the commit log is the commit record: no reader looks for a
        # group's _SUCCESS marker, so the committer writes none
        w = df.write.mode("overwrite").option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
        )
        for k, v in (write_options or {}).items():
            w = w.option(k, v)
        w.parquet(os.path.join(self.root, rel))
        if obs is None:
            return rel, None
        row = obs.get
        return rel, {c: [row[f"lo_{c}"], row[f"hi_{c}"]] for c in stats_cols}

    def _read(self, files: list[str], schema) -> DataFrame:
        """Read data groups with the log-recorded schema: columns a
        group predates surface as null, and planning touches zero
        parquet footers (a footer merge would fetch one per group —
        O(groups) at 100k windows)."""
        if not files:
            raise ValueError(
                f"table at {self.root} has no data groups yet — write "
                "one before reading"
            )
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self.root, rel) for rel in files]
        )

    def _try_commit_doc(self, version: int, doc: dict) -> bool:
        """Atomically claim ``version`` with a COMPLETE document:
        the content is written to a temp file first and linked onto
        the log name — claim and content are one atomic step, so a
        torn read of a winning commit is impossible. False if a
        concurrent writer claimed the version first."""
        log_dir = os.path.join(self.root, _LOG_DIR)
        os.makedirs(log_dir, exist_ok=True)
        doc = dict(doc)
        doc["committed_at"] = time.time()
        tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(doc, f)
        try:
            os.link(tmp, self._log_path(version))
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        self._update_hint(version)
        return True

    def _commit(self, edit, max_retries: int | None = None) -> int | None:
        """The commit loop every writer goes through. Each attempt
        reads ``version()``, resolves that parent's state once, and
        calls ``edit(state, stage)`` with ``state = (files, stats,
        tags, schema)``. ``edit`` returns ``None`` to abort, or a dict
        with any of ``add``/``remove`` (group lists), ``stats``/
        ``tags`` (per added group; None values are dropped) and
        ``schema`` (the table schema after the commit; default: the
        parent's). ``stage(df, stats_cols, write_options)`` writes
        ``df`` as a data group once per DataFrame across attempts and
        returns ``(rel, stats)``. The loop then claims ``parent + 1``;
        on a lost race it starts again from the new parent, so every
        edit — and every schema check inside one — is computed against
        the state its commit lands on. The document is a snapshot at
        checkpoint versions and whenever the full file list is no
        longer than the delta would be (version 0, full rewrites), else
        an O(1) delta; deltas record the schema only when it changes.

        Every staged group the commit does not add is deleted, whether
        the loop aborts, raises, or loses a race that re-stages.
        Returns the committed version, None on abort; raises
        :class:`CommitConflict` after ``max_retries`` lost races."""
        staged: list[tuple[DataFrame, tuple[str, dict | None]]] = []

        def stage(df, stats_cols=None, write_options=None):
            for d, group in staged:
                if d is df:
                    return group
            group = self._write_group(df, stats_cols, write_options)
            staged.append((df, group))
            return group

        landed: list[str] = []
        attempts = 0
        try:
            while max_retries is None or attempts < max_retries:
                attempts += 1
                parent = self.version()
                files, stats, tags, schema = self._state_at(parent)
                e = edit((files, stats, tags, schema), stage)
                if e is None:
                    return None
                add = list(e.get("add", ()))
                remove = list(e.get("remove", ()))
                add_stats = {r: s for r, s in e.get("stats", {}).items() if s}
                add_tags = {r: t for r, t in e.get("tags", {}).items() if t}
                new_schema = e.get("schema", schema)
                gone = set(remove)
                files = [r for r in files if r not in gone] + add
                next_v = parent + 1
                if (
                    next_v % self.checkpoint_interval == 0
                    or len(files) <= len(add) + len(remove)
                ):
                    for r in gone:
                        stats.pop(r, None)
                        tags.pop(r, None)
                    doc: dict = {
                        "files": files,
                        "stats": {**stats, **add_stats},
                        "tags": {**tags, **add_tags},
                    }
                    record = new_schema is not None
                else:
                    doc = {
                        "add": add, "remove": remove,
                        "stats": add_stats, "tags": add_tags,
                    }
                    record = new_schema != schema
                if record:
                    doc["schema"] = new_schema.jsonValue()
                if self._try_commit_doc(next_v, doc):
                    landed = add
                    return next_v
            raise CommitConflict(
                f"lost {max_retries} commit races at {self.root}; raise "
                f"max_retries or serialize the writers"
            )
        finally:
            for _df, (rel, _st) in staged:
                if rel not in landed:
                    shutil.rmtree(
                        os.path.join(self.root, rel), ignore_errors=True
                    )

    # -- public API ---------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        df: DataFrame,
        stats_cols: list[str] | None = None,
        checkpoint_interval: int = 100,
    ) -> "TxTable":
        """A new table holding ``df``. Raises ``ValueError`` if a table
        with data or a schema exists at ``root``, and
        :class:`CommitConflict` if a concurrent writer commits first."""
        t = cls(spark, root, checkpoint_interval=checkpoint_interval)

        def edit(state, stage):
            if state[0] or state[3] is not None:
                raise ValueError(f"table already exists at {root}")
            rel, st = stage(df, stats_cols)
            return {
                "add": [rel], "stats": {rel: st},
                "schema": t._nullable(df.schema),
            }

        t._commit(edit, max_retries=1)
        return t

    @classmethod
    def ensure(
        cls,
        spark: SparkSession,
        root: str,
        checkpoint_interval: int = 100,
    ) -> "TxTable":
        """Open the table at ``root``, initializing an EMPTY table
        (version 0, zero data groups) if none exists — the idempotent
        form sinks use: many concurrent first-writers race to create
        version 0 and every loser simply adopts the winner's table."""
        t = cls(spark, root, checkpoint_interval=checkpoint_interval)
        if t.version() < 0:
            t._try_commit_doc(0, {"files": []})  # loser adopts winner
        return t

    def snapshot(self, version: int | None = None) -> DataFrame:
        """The table at a committed version (default: latest) — an
        immutable, torn-read-free view, read with the schema RECORDED
        in the commit log (see :meth:`_read`)."""
        v = self.version() if version is None else version
        files, _stats, _tags, schema = self._state_at(v)
        return self._read(files, schema)

    def snapshot_as_of(self, ts: float) -> DataFrame:
        """Time travel by WALL CLOCK: the table as of unix time ``ts``
        — the newest version whose ``committed_at`` ≤ ts (binary
        search over the version range; O(log n) commit reads).
        Raises if the table didn't exist yet or that history was
        vacuumed (:meth:`vacuum_log`)."""
        hi = self.version()
        if hi < 0:
            raise ValueError(f"no commits at {self.root}")
        lo = 0
        # versions below the vacuum_log cut are gone; find the floor
        while lo <= hi:
            try:
                self._read_doc(lo)
                break
            except FileNotFoundError:
                lo += 1
        if self._read_doc(lo).get("committed_at", 0) > ts:
            raise ValueError(
                f"no commit at or before ts={ts} at {self.root} "
                "(table younger, or history vacuumed)"
            )
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if self._read_doc(mid).get("committed_at", 0) <= ts:
                lo = mid
            else:
                hi = mid - 1
        return self.snapshot(lo)

    def history(self, limit: int = 20) -> list[dict]:
        """Newest-first commit metadata (version, committed_at, kind,
        adds/removes) — the DESCRIBE HISTORY view. Reads ``limit``
        documents, never the data."""
        v = self.version()
        out = []
        while v >= 0 and len(out) < limit:
            try:
                doc = self._read_doc(v)
            except FileNotFoundError:
                break  # below the vacuum_log cut
            if "files" in doc:
                out.append(
                    {
                        "version": v,
                        "committed_at": doc.get("committed_at"),
                        "kind": "snapshot",
                        "n_files": len(doc["files"]),
                    }
                )
            else:
                out.append(
                    {
                        "version": v,
                        "committed_at": doc.get("committed_at"),
                        "kind": "delta",
                        "added": list(doc.get("add", ())),
                        "removed": list(doc.get("remove", ())),
                    }
                )
            v -= 1
        return out

    def append(
        self,
        df: DataFrame,
        stats_cols: list[str] | None = None,
        allow_new_columns: bool = False,
    ) -> int:
        """Add rows; file adds commute, so a lost race auto-rebases
        onto the winner's commit (the new group's stats ride along).
        With ``allow_new_columns`` the batch may carry columns the
        table lacks — older groups surface them as null; a TYPE
        change for an existing column always raises (see
        :meth:`_evolve`). Returns the committed version. The commit
        itself is an O(1) delta document (a snapshot only at
        checkpoint versions)."""

        def edit(state, stage):
            schema = self._evolve(state[3], df.schema, allow_new_columns)
            rel, st = stage(df, stats_cols)
            return {"add": [rel], "stats": {rel: st}, "schema": schema}

        return self._commit(edit)

    def replace_tagged(
        self,
        tag_key: str,
        tag_value: str,
        df: DataFrame,
        stats_cols: list[str] | None = None,
        extra_tags: dict | None = None,
        allow_new_columns: bool = False,
        write_options: dict | None = None,
    ) -> int:
        """Atomically replace every group tagged ``tag_key=tag_value``
        with one new group carrying that tag — the transactional
        ``replaceWhere``. Re-running the same logical unit (a chunk
        window, a stream batch id) is idempotent: the previous run's
        groups leave in the same commit the new one lands, and readers
        see either the old window or the new, never both or neither.
        A lost commit race recomputes the removal set against the
        winner's state and retries — concurrent DISTINCT tag values
        commute; concurrent writers of the SAME value serialize to
        last-writer-wins. Returns the committed version."""
        tags = {tag_key: str(tag_value), **(extra_tags or {})}

        def edit(state, stage):
            files, _stats, cur_tags, schema = state
            schema = self._evolve(schema, df.schema, allow_new_columns)
            rel, st = stage(df, stats_cols, write_options)
            remove = [
                r for r in files
                if cur_tags.get(r, {}).get(tag_key) == tags[tag_key]
            ]
            return {
                "add": [rel], "remove": remove, "stats": {rel: st},
                "tags": {rel: tags}, "schema": schema,
            }

        return self._commit(edit)

    def swap_groups(
        self,
        expected: list[str],
        df: DataFrame,
        tags: dict | None = None,
        stats_cols: list[str] | None = None,
        write_options: dict | None = None,
    ) -> int | None:
        """Compare-and-swap group replacement: atomically replace
        EXACTLY the ``expected`` groups with one new group holding
        ``df`` — but only while every expected group is still live.
        If any has been removed by a concurrent commit (e.g. a window
        writer replaced the data this rewrite was derived FROM), the
        swap ABORTS, deletes its staged group, and returns None —
        unlike :meth:`replace_tagged`, it can never clobber data
        newer than what it read. A winner that merely ADDED unrelated
        groups is rebased over. This is what a compactor needs: its
        output is a pure rewrite of its input, so the input vanishing
        means the output is stale by definition."""

        def edit(state, stage):
            if not set(expected) <= set(state[0]):
                return None
            schema = self._evolve(state[3], df.schema, True)
            rel, st = stage(df, stats_cols, write_options)
            return {
                "add": [rel], "remove": list(expected), "stats": {rel: st},
                "tags": {rel: tags}, "schema": schema,
            }

        return self._commit(edit)

    def publish_with_audit(
        self,
        df: DataFrame,
        audit,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Write-audit-publish (the Iceberg WAP pattern): stage the
        new data group, run ``audit(candidate_df)`` against the
        CANDIDATE snapshot (current files + the staged group) while
        it is still invisible to readers, and only then commit.
        ``audit`` raises (or returns False) to veto — the staged
        group is deleted and the table is byte-identical to before;
        readers can never observe data that failed its checks. The
        audit sees the post-publish state, so cross-batch invariants
        (key uniqueness, row-count deltas, null budgets) are
        checkable, not just per-batch ones; a lost commit race
        re-audits against the winner's snapshot. A batch that
        retypes a column raises ``ValueError`` before the audit, like
        :meth:`append`. Returns the committed version; raises
        ``ValueError`` on veto."""

        def edit(state, stage):
            files, _stats, _tags, schema = state
            schema = self._evolve(schema, df.schema, True)
            rel, st = stage(df, stats_cols)
            if audit(self._read(files + [rel], schema)) is False:
                raise ValueError("audit vetoed publish")
            return {"add": [rel], "stats": {rel: st}, "schema": schema}

        return self._commit(edit)

    def scan_range(
        self,
        col: str,
        lo,
        hi,
        version: int | None = None,
    ):
        """Data-skipping range scan: prune whole data groups whose
        commit-log [min, max] for ``col`` cannot intersect
        [``lo``, ``hi``] — the lakehouse file-skipping trick, here on
        the engine's own commit log (zero extra reads: the stats were
        paid once at write time). Groups without stats for ``col``
        (writers that didn't declare it) are KEPT — pruning only ever
        skips provably-irrelevant files. The surviving files still get
        the row-level predicate, so the result equals
        ``snapshot().where(lo <= col <= hi)`` exactly.

        Returns ``(DataFrame, n_groups_skipped)``. At 100 TB this is
        the difference between touching one day's file groups and
        listing a year of them — the same win as partition pruning,
        without requiring the data to be physically partitioned on
        ``col``."""
        from pyspark.sql import functions as F

        v = self.version() if version is None else version
        files, stats, _tags, schema = self._state_at(v)
        keep, skipped = [], 0
        for rel in files:
            s = stats.get(rel, {}).get(col)
            if (
                s is not None
                and s[0] is not None
                and s[1] is not None
                and (s[0] > hi or s[1] < lo)
            ):
                skipped += 1
                continue
            keep.append(rel)
        if not keep:
            return self._read(files, schema).where(F.lit(False)), skipped
        pred = (F.col(col) >= lo) & (F.col(col) <= hi)
        return self._read(keep, schema).where(pred), skipped

    def expire_below(self, col: str, cutoff) -> dict:
        """Retention enforcement as a LOG operation: drop rows with
        ``col < cutoff``.

        * Groups whose commit-log ``hi_{col}`` is below the cutoff are
          removed in ONE delta commit — zero data IO, the
          ``ALTER TABLE DROP PARTITION`` shape (the data files linger
          for time travel until :meth:`vacuum`). At 100 TB this is
          the whole point: a year of expired 5-minute windows retires
          as one tiny JSON document, not a rewrite.
        * Groups straddling the cutoff (and stats-less groups — the
          safe direction) are rewritten filtered via
          :meth:`swap_groups`, keeping their tags, so a concurrent
          window replacement always wins over a stale rewrite.
        * Groups entirely at/above the cutoff are untouched.

        Compare catalog.py::enforce_retention, the staging-rewrite
        form for plain catalog tables — there every expiry rewrites
        the survivors; here only the boundary group pays data IO.

        Returns ``{"dropped_groups": n, "rewritten_groups": n,
        "kept_groups": n}``."""
        from pyspark.sql import functions as F

        files, stats, tags, schema = self._state_at(self.version())
        drop, rewrite, keep = [], [], []
        for rel in files:
            s = stats.get(rel, {}).get(col)
            if s is not None and s[0] is not None and s[1] is not None:
                if s[1] < cutoff:
                    drop.append(rel)
                    continue
                if s[0] >= cutoff:
                    keep.append(rel)
                    continue
            rewrite.append(rel)

        def drop_edit(state, _stage):
            # pure log edit; rebases over any winner (removals of
            # expired groups commute with everything except their own
            # replacement, which swap/replace writers would re-add
            # with fresh stats anyway)
            live = set(state[0])
            still = [r for r in drop if r in live]
            return {"remove": still} if still else None

        if drop:
            self._commit(drop_edit)
        rewritten = 0
        for rel in rewrite:
            df = self._read([rel], schema).where(F.col(col) >= cutoff)
            if (
                self.swap_groups(
                    [rel], df, tags=tags.get(rel), stats_cols=[col]
                )
                is not None
            ):
                rewritten += 1
        return {
            "dropped_groups": len(drop),
            "rewritten_groups": rewritten,
            "kept_groups": len(keep),
        }

    def vacuum(self, older_than_s: float = 3600.0) -> list[str]:
        """Remove data groups unreferenced by the CURRENT commit and
        older than ``older_than_s`` (an in-flight writer's uncommitted
        group is younger by construction). Time travel to vacuumed
        versions stops working — the usual retention trade."""
        live = set(self._files_at(self.version()))
        data = os.path.join(self.root, _DATA_DIR)
        removed: list[str] = []
        try:
            entries = os.listdir(data)
        except FileNotFoundError:
            return removed
        for name in entries:
            rel = os.path.join(_DATA_DIR, name)
            full = os.path.join(self.root, rel)
            if rel in live:
                continue
            try:
                age = time.time() - os.stat(full).st_mtime
            except FileNotFoundError:
                continue
            if age > older_than_s:
                shutil.rmtree(full, ignore_errors=True)
                removed.append(rel)
        return sorted(removed)

    def vacuum_log(self, keep_versions: int = 0) -> list[str]:
        """Drop commit documents older than the newest SNAPSHOT commit
        at or below ``version() - keep_versions`` — every retained
        version stays resolvable (the walk-back from any kept version
        hits a kept snapshot). Time travel below the cut is lost, the
        same trade as :meth:`vacuum`. Returns removed log file names.

        A long-lived sink calls this on the compaction schedule: with
        the default interval, a year of 5-minute commits retains ~100
        log files instead of ~100k."""
        v = self.version()
        if v < 0:
            return []
        horizon = v - max(0, keep_versions)
        cut = None
        probe = min(horizon, v)
        while probe >= 0:
            if "files" in self._read_doc(probe):
                cut = probe
                break
            probe -= 1
        if cut is None or cut == 0:
            return []
        removed = []
        for version in range(cut):
            path = self._log_path(version)
            try:
                os.unlink(path)
                removed.append(os.path.basename(path))
            except FileNotFoundError:
                pass
        return removed
