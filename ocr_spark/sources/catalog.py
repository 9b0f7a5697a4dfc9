"""Parquet-backed table catalog with manifest snapshots ("iceberg-like").

The sandbox runtime has no Iceberg catalog jar (SURVEY.md §7 risk 5), so the
writer sits behind this one interface. Every commit goes through ONE writer,
``ManifestTable._commit``: it overwrites ``data/commit=<id>/`` with the
commit's parquet files, then saves ``manifest.json`` last with one entry
``{commit_id, path, ts, op, schema, ...}`` (any earlier entry of the same id
is replaced, so a retried commit never lists its files twice). A Spark
DataFrame is written by Spark; a pandas frame built on the driver (a job's
one-row metrics) is written by pyarrow as one file, with no Spark job.

``schema`` is the written frame's Spark schema (``StructType.jsonValue()``).
Reads merge the stored schemas of the entries they open, by column name in
first-seen order, and raise on a type conflict as parquet ``mergeSchema``
does. With the schema known, opening a table reads no file footer, so it
runs no Spark job. An entry with no ``schema`` (written before the key existed) makes its
read fall back to ``mergeSchema`` over the footers, as every read did then.

``op`` names what the commit did:

- ``append`` adds rows (``append``; the only op ``read_changes`` streams);
- ``compact`` rewrites the current view into fewer files (``compact``);
- ``merge`` / ``delete`` rewrite the commits an upsert or a delete touched,
  keeping their other rows (``merge``, ``delete_where``).

The three rewrites carry ``replaces``: the ids of the commits whose rows the
new commit holds from now on. The current view hides replaced commits;
``read(as_of=...)`` below the rewrite's id still serves them, until
``expire()`` deletes them. Optional keys: ``partitioned`` (hive partition
columns of an append) and ``stats`` (per-column [min, max] zone maps).

Resume and exactly-once semantics come from the lineage table + anti-join
(lineage.py), matching the reference's predicted-map skip. On a real
cluster this maps 1:1 onto ``df.writeTo(tbl).append()`` with Iceberg
snapshot commits (north_rule "commit-level checkpoints").
"""

from __future__ import annotations

import json
import os
import time
from functools import reduce


def _merge_types(a, b):
    """Parquet ``mergeSchema``'s rule: structs merge by field name, new
    fields appended in first-seen order; arrays and maps merge their
    element types; any other pair must be equal."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(a, StructType) and isinstance(b, StructType):
        fields = {f.name: f for f in a.fields}
        for f in b.fields:
            old = fields.get(f.name)
            fields[f.name] = f if old is None else StructField(
                f.name,
                _merge_types(old.dataType, f.dataType),
                old.nullable or f.nullable,
                old.metadata,
            )
        return StructType(list(fields.values()))
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        return ArrayType(
            _merge_types(a.elementType, b.elementType), a.containsNull or b.containsNull
        )
    if isinstance(a, MapType) and isinstance(b, MapType):
        return MapType(
            _merge_types(a.keyType, b.keyType),
            _merge_types(a.valueType, b.valueType),
            a.valueContainsNull or b.valueContainsNull,
        )
    if a != b:
        raise ValueError(
            f"cannot merge schemas: {a.simpleString()} vs {b.simpleString()}"
        )
    return a


class ManifestTable:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_path = os.path.join(root, "manifest.json")
        os.makedirs(self.data_dir, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def _load_manifest(self) -> list[dict]:
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path) as f:
            return json.load(f)

    def _save_manifest(self, manifest: list[dict]):
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self.manifest_path)

    @property
    def snapshots(self) -> list[dict]:
        return self._load_manifest()

    def next_commit_id(self) -> int:
        manifest = self._load_manifest()
        return (max((s["commit_id"] for s in manifest), default=-1)) + 1

    # -- IO ----------------------------------------------------------------
    @staticmethod
    def _column_stats(df, stats_cols) -> dict:
        """Commit-level zone map: {col: [min, max]} for the declared
        columns (one tiny agg over the commit's rows). Values must be
        JSON-representable — strings/ints/floats; None min/max (all-NULL
        column) stores as null and the commit is never skipped."""
        if not stats_cols:
            return {}
        from pyspark.sql import functions as F

        exprs = []
        for c in stats_cols:
            exprs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
        row = df.agg(*exprs).collect()[0]
        return {
            c: [row[f"__min_{c}"], row[f"__max_{c}"]] for c in stats_cols
        }

    def _commit(self, df, commit_id: int, op: str, partition_by=(), **entry) -> int:
        """The one writer: overwrite ``data/commit=<id>`` with df, then
        save the manifest LAST with any same-id entry replaced. A crash
        mid-write leaves an unreferenced directory, never a torn snapshot;
        the data write is an overwrite and so is the entry, so a retry of
        the same id never lists the path twice (read() would duplicate
        every row of the commit). ``entry`` holds the op's extra manifest
        keys. A pandas frame is written on the driver by pyarrow, as one
        file (unpartitioned)."""
        import pandas as pd

        path = os.path.join(self.data_dir, f"commit={commit_id}")
        if isinstance(df, pd.DataFrame):
            import shutil

            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema

            table = pa.Table.from_pandas(df, preserve_index=False)
            schema = from_arrow_schema(table.schema)
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            pq.write_table(table, os.path.join(path, "part-00000.parquet"))
        else:
            schema = df.schema
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)
        record = {
            "commit_id": commit_id,
            "path": path,
            "ts": time.time(),
            "op": op,
            "schema": schema.jsonValue(),
        }
        if partition_by:
            record["partitioned"] = list(partition_by)
        record.update(entry)
        manifest = [
            s for s in self._load_manifest() if s["commit_id"] != commit_id
        ]
        self._save_manifest(manifest + [record])
        return commit_id

    def append(
        self, df, commit_id: int | None = None, *, stats_cols=(), partition_by=()
    ) -> int:
        """Write df as one commit (see ``_commit``). ``stats_cols`` records
        commit-level min/max zone maps in the manifest for
        :meth:`read_pruned` data skipping. ``partition_by`` hive-partitions
        the commit's files on the given columns (Iceberg partition-spec
        analog) — a reader filtering on them prunes whole directories at
        the scan (the vecindex IVF-list layout)."""
        if commit_id is None:
            commit_id = self.next_commit_id()
        stats = self._column_stats(df, stats_cols)
        entry = {"stats": stats} if stats else {}
        return self._commit(df, commit_id, "append", partition_by, **entry)

    @staticmethod
    def _read_entries(spark, entries):
        """Merged read over manifest entries with their stored schemas
        merged (no footer job); any legacy entry without one makes the
        read infer the schema with ``mergeSchema`` instead. Safe for
        hive-partitioned commits: multi-root partition discovery rejects
        sibling commit dirs as "conflicting structures", so when any
        entry is partitioned each commit reads under its own basePath and
        the union runs allowMissingColumns — additive schema evolution and
        partitioned/plain mixes both surface missing columns as NULL."""
        from pyspark.sql.types import StructType

        paths = [s["path"] for s in entries]
        if all("schema" in s for s in entries):
            merged = reduce(
                _merge_types, (StructType.fromJson(s["schema"]) for s in entries)
            )
            reader = spark.read.schema(merged)
        else:
            reader = spark.read.option("mergeSchema", "true")
        if len(paths) > 1 and any(s.get("partitioned") for s in entries):
            dfs = [reader.option("basePath", p).parquet(p) for p in paths]
            return reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
            )
        return reader.parquet(*paths)

    def read_commit(self, spark, commit_id: int):
        """The rows of one commit, opened through its manifest entry."""
        entry = next(s for s in self._load_manifest() if s["commit_id"] == commit_id)
        return self._read_entries(spark, [entry])

    def read_pruned(self, spark, col: str, lo, hi, *, as_of: int | None = None):
        """Zone-map scan (Iceberg manifest pruning): read only the commits
        whose recorded [min, max] of ``col`` can overlap [lo, hi], then
        apply the predicate exactly. At crawl scale this is THE manifest
        win — a url- or time-ranged probe over a million-commit table
        opens the handful of overlapping commits instead of listing every
        file. Commits WITHOUT stats for ``col`` (or with an all-NULL
        range) are conservatively read — pruning never changes results,
        it only skips provably-disjoint data. Returns None when no commit
        can match."""
        from pyspark.sql import functions as F

        vis = self._visible(self._load_manifest(), as_of)

        def may_match(s) -> bool:
            rng = (s.get("stats") or {}).get(col)
            if not rng or rng[0] is None or rng[1] is None:
                return True  # no zone map -> cannot prove disjoint
            return not (rng[1] < lo or rng[0] > hi)

        hits = [s for s in vis if may_match(s)]
        if not hits:
            return None
        df = self._read_entries(spark, hits)
        return df.where((F.col(col) >= lo) & (F.col(col) <= hi))

    def rollback(self, commit_id: int):
        """Drop a commit from the manifest (aborted-transaction cleanup).
        The data directory is left unreferenced — read() never sees it, and
        the id is reused by the retry (next_commit_id scans the manifest),
        overwriting the partial files."""
        self._save_manifest(
            [s for s in self._load_manifest() if s["commit_id"] != commit_id]
        )

    def _visible(self, manifest: list[dict], as_of: int | None = None) -> list[dict]:
        """Snapshot resolution: entries replaced by a later compaction are
        hidden; ``as_of`` restricts to the view as of that commit id (the
        replacing entry falls outside the window, so the originals show)."""
        if as_of is not None:
            manifest = [s for s in manifest if s["commit_id"] <= as_of]
        replaced: set[int] = set()
        for s in manifest:
            replaced.update(s.get("replaces", []))
        return [s for s in manifest if s["commit_id"] not in replaced]

    def read(self, spark, as_of: int | None = None):
        """Current view, or the historical snapshot ``as_of`` a commit id
        (Iceberg time travel: VERSION AS OF). Returns None for an empty
        view.

        Reads merge schemas across commits (Iceberg add-column evolution:
        a crawl pipeline gains fields — lang tags, quality scores —
        mid-table); rows from pre-evolution commits surface the new
        columns as NULL. Type CHANGES of an existing column are not
        supported (the read raises, as mergeSchema does), matching the
        scope of additive evolution."""
        vis = self._visible(self._load_manifest(), as_of)
        if not vis:
            return None
        return self._read_entries(spark, vis)

    def compact(self, spark, target_partitions: int = 1) -> int | None:
        """Rewrite the current view as ONE new commit (Iceberg
        rewrite_data_files): at crawl scale a commit-per-micro-batch table
        accumulates millions of small files and every read pays the
        listing + open cost; compaction folds them into ``target_partitions``
        files. History is preserved — the replaced commits stay in the
        manifest (hidden from the current view, still served by
        ``read(as_of=...)``) until ``expire()``. Returns the new commit id,
        or None when there is nothing to fold."""
        vis = self._visible(self._load_manifest())
        if len(vis) <= 1:
            return None
        # the merged read keeps the UNION schema of a schema-evolved table
        # (a rewrite must not drop added columns). A hive-partitioned table
        # compacts to a PLAIN commit (the partition column becomes a data
        # column — Iceberg's rewrite-with-new-spec shape); readers see
        # identical rows.
        df = self._read_entries(spark, vis).coalesce(target_partitions)
        replaces = sorted(s["commit_id"] for s in vis)
        return self._commit(df, self.next_commit_id(), "compact", replaces=replaces)

    def _commits_holding(self, spark, matching) -> list[dict]:
        """The visible entries holding at least one row that ``matching``
        (a DataFrame -> DataFrame filter) keeps: one scan of every visible
        commit, each tagged with its id, where parquet column pruning and
        predicate pushdown read only the columns the filter needs. Commits
        are read one by one and unioned by name, so hive-partitioned and
        schema-evolved commits mix (a column missing from a commit reads
        as NULL)."""
        from pyspark.sql import functions as F

        vis = self._visible(self._load_manifest())
        if not vis:
            return []
        tagged = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            (
                self._read_entries(spark, [s]).withColumn("_cid", F.lit(s["commit_id"]))
                for s in vis
            ),
        )
        hit_ids = {
            r["_cid"] for r in matching(tagged).select("_cid").distinct().collect()
        }
        return [s for s in vis if s["commit_id"] in hit_ids]

    def merge(self, spark, updates, key: str = "url") -> int | None:
        """Iceberg MERGE INTO, copy-on-write flavor: upsert ``updates`` by
        ``key`` (matched rows are replaced, new keys inserted).

        Scale shape — touch only what matched: one key-column scan across
        visible commits finds which commits contain a matched key (the
        update side is broadcast — a merge batch is tiny next to the
        table). UNAFFECTED commits are never read again and keep their
        files verbatim; the affected commits' surviving rows and the
        updates land together as ONE new commit whose manifest entry
        ``replaces`` the affected ids. History is preserved for
        ``read(as_of=...)`` until ``expire()`` — the same snapshot algebra
        as ``compact``. Returns the new commit id (None for empty updates).
        """
        from pyspark.sql import functions as F

        if updates.rdd.isEmpty():
            return None
        upd_keys = F.broadcast(updates.select(key).distinct())
        affected = self._commits_holding(
            spark, lambda df: df.join(upd_keys, key, "left_semi")
        )
        new_rows = updates
        if affected:
            survivors = self._read_entries(spark, affected).join(
                upd_keys, key, "left_anti"
            )
            new_rows = survivors.unionByName(updates.select(*survivors.columns))
        replaces = sorted(s["commit_id"] for s in affected)
        return self._commit(new_rows, self.next_commit_id(), "merge", replaces=replaces)

    def delete_where(self, spark, predicate) -> int | None:
        """Iceberg DELETE FROM, copy-on-write flavor: drop every row where
        ``predicate`` (a Column or SQL string) is TRUE — the
        right-to-be-forgotten path a crawl table cannot ship without.

        Scale shape — touch only what matched, like ``merge``: one scan
        finds which commits hold matching rows (parquet predicate pushdown
        prunes it to the predicate's columns); UNAFFECTED commits keep
        their files verbatim; the affected commits' surviving rows land as
        ONE new commit whose manifest entry ``replaces`` them. SQL NULL
        semantics: only pred IS TRUE deletes (FALSE and NULL survive), so
        a predicate over a schema-evolved column leaves pre-evolution rows
        alone. The deleted rows remain visible to ``read(as_of=...)``
        until ``expire()`` — HARD removal (GDPR) is delete_where +
        expire(). Returns the new commit id, or None when nothing matched.
        """
        from pyspark.sql import functions as F

        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit = F.coalesce(pred, F.lit(False))
        affected = self._commits_holding(spark, lambda df: df.where(hit))
        if not affected:
            return None
        survivors = self._read_entries(spark, affected).where(~hit)
        replaces = sorted(s["commit_id"] for s in affected)
        return self._commit(survivors, self.next_commit_id(), "delete", replaces=replaces)

    def read_changes(self, spark, since: int, until: int | None = None):
        """Iceberg incremental (append) scan: rows ADDED by commits with
        ``since < commit_id <= until`` — the consumption contract that lets
        a downstream pipeline (dedup increment, index refresh, WET export)
        process each crawl batch exactly once by remembering only the last
        commit id it saw.

        Commit-type semantics match Iceberg's incremental read:
        - append commits stream their files verbatim;
        - compaction commits are SKIPPED — they rewrite existing rows and
          add none, so including them would double-count every compacted
          row for any reader whose window spans the compaction;
        - merge (overwrite) commits raise: their new-row delta is not
          recoverable from the snapshot alone (Iceberg likewise refuses to
          incrementally scan overwrite snapshots).

        Returns None when the window holds no appended rows."""
        window = [
            s
            for s in self._load_manifest()
            if s["commit_id"] > since
            and (until is None or s["commit_id"] <= until)
        ]
        entries = []
        for s in window:
            # legacy entries (pre-"op") carry no marker: entries that
            # replace others are rewrites, plain entries are appends
            op = s.get("op", "merge" if s.get("replaces") else "append")
            if op == "append":
                entries.append(s)
            elif op in ("merge", "delete"):
                raise ValueError(
                    f"read_changes: commit {s['commit_id']} is an overwrite "
                    f"({op}); its append-delta is not derivable from the "
                    "snapshot — consume overwrites via read(as_of=...) diffs"
                )
            # op == "compact": rewrite only, skip
        if not entries:
            return None
        return self._read_entries(spark, entries)

    def expire(self) -> list[int]:
        """Iceberg expire_snapshots: physically delete every data directory
        hidden from the CURRENT view and drop its manifest entry. Trades
        time travel (reads as_of < the compaction) for storage — the
        maintenance companion to ``compact``. Returns the expired ids."""
        import shutil

        manifest = self._load_manifest()
        visible = {s["commit_id"] for s in self._visible(manifest)}
        expired = [s for s in manifest if s["commit_id"] not in visible]
        # manifest first: a crash between the two steps leaves orphan
        # directories (harmless, never read) rather than dangling entries
        self._save_manifest([s for s in manifest if s["commit_id"] in visible])
        for s in expired:
            shutil.rmtree(s["path"], ignore_errors=True)
        return sorted(s["commit_id"] for s in expired)

    def exists(self) -> bool:
        return bool(self._load_manifest())
