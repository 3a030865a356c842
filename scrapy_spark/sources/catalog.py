"""Snapshot-committed parquet table store (Iceberg-semantics, local files).

Iceberg jars are not in this image, so this module provides the subset of
Iceberg semantics the crawl needs, over plain parquet + an atomically-swapped
JSON manifest:

- **snapshot isolation**: readers see only files listed in the manifest;
  writers stage files first, then swap the manifest with ``os.replace``
  (atomic on POSIX). A crash mid-generation leaves orphan staged files that
  no reader ever sees — exactly Iceberg's optimistic-commit model.
- **one commit per frontier generation** (SURVEY §2.1 S5/S6, §3.1): all
  tables touched by a generation become visible together, so a killed run
  resumes from the last committed generation bit-identically (the reference's
  BatchCheckpoint/EnhancedCheckpoint role, checkpoints.py:16-213).
- **table layout**: append-only file lists per table; url_seen carries its
  hash bucket as a ``shard`` column (``pmod(url_hash, 64)``).

On a real cluster this class is replaced 1:1 by an Iceberg catalog
(``df.writeTo(tbl).append()`` inside a single transaction); the crawl driver
only uses the four methods below.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


# Catalog format history (the Iceberg format-version analog). Bumped when a
# committed table's SCHEMA or semantics change such that old rows would be
# misread by the current build:
#   1 — pre-round-6: fetch_results had no is_final / latency_ms columns
#       (finality was recomputed downstream from a fixed MAX_ATTEMPTS)
#   2 — finality decided INSIDE the fetch UDF and persisted (is_final);
#       resume / retry re-enqueue / revalidation all read it
FORMAT_VERSION = 2


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def _load(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {
                "format": FORMAT_VERSION,
                "tables": {},
                "committed_generation": -1,
                "snapshots": [],
            }
        with open(self._manifest_path) as f:
            m = json.load(f)
        v = m.get("format", 1)
        if v < FORMAT_VERSION:
            # fail at OPEN, loudly: a v1 fetch_results lacks is_final /
            # latency_ms, so resuming under this build would either crash on
            # an unresolved column or silently drop every pre-upgrade row
            # from the three-valued finality filters
            raise ValueError(
                f"workdir catalog is format v{v}, this build reads "
                f"v{FORMAT_VERSION}: committed tables predate the persisted "
                "is_final/latency_ms fetch columns — start a fresh --workdir "
                "(or re-run the crawl); resuming would drift from the oracle"
            )
        if v > FORMAT_VERSION:
            raise ValueError(
                f"workdir catalog is format v{v}, written by a NEWER build "
                f"than this one (reads v{FORMAT_VERSION}) — use the newer "
                "build or start a fresh --workdir"
            )
        return m

    def _write_manifest(self, m: dict) -> None:
        """Atomic manifest publish: tmp write + os.replace IS the snapshot
        commit — every mutation path must go through here."""
        tmp = self._manifest_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    def committed_generation(self) -> int:
        return self._load()["committed_generation"]

    def stage(
        self, df: DataFrame, table: str, generation: int, coalesce: int | None = None
    ) -> list[str]:
        """Write df to staged parquet files for `table`; not yet visible.

        ``coalesce`` caps output file count — pass it when df is already
        materialized (cached) so the narrow coalesce doesn't reduce upstream
        parallelism (the Iceberg analog: write.target-file-size)."""
        tmp = os.path.join(self.root, f"_stage-{table}-{generation}-{uuid.uuid4().hex}")
        if coalesce is not None:
            df = df.coalesce(coalesce)
        df.write.mode("overwrite").parquet(tmp)
        tdir = os.path.join(self.root, table)
        os.makedirs(tdir, exist_ok=True)
        out = []
        for name in sorted(os.listdir(tmp)):
            if not name.endswith(".parquet"):
                continue
            dst = os.path.join(tdir, f"g{generation:05d}-{uuid.uuid4().hex}.parquet")
            shutil.move(os.path.join(tmp, name), dst)
            out.append(os.path.relpath(dst, self.root))
        shutil.rmtree(tmp, ignore_errors=True)
        return out

    def staged_rows(self, files: list[str]) -> int:
        """Row count from parquet footers — no Spark job needed."""
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(os.path.join(self.root, f)).metadata.num_rows for f in files
        )

    def staged_column_sum(self, files: list[str], column: str) -> int:
        """Sum one integer column of staged files via a column-pruned pyarrow
        read — no Spark job. Intended for compact rollup tables (lineage):
        even at millions of hosts this reads a few MB of one column."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            t = pq.read_table(os.path.join(self.root, f), columns=[column])
            s = pc.sum(t.column(column)).as_py()
            total += int(s or 0)
        return total

    def staged_read(
        self, files: list[str], columns: list[str] | None = None
    ) -> list[dict]:
        """Rows of staged files as dicts via a column-pruned pyarrow read —
        no Spark job. For compact host-keyed rollup tables only (breaker
        state, alert inputs); anything data-sized goes through
        :meth:`read_files`."""
        import pyarrow.parquet as pq

        rows: list[dict] = []
        for f in files:
            rows.extend(
                pq.read_table(
                    os.path.join(self.root, f), columns=columns
                ).to_pylist()
            )
        return rows

    def read_files(self, spark: SparkSession, files: list[str]) -> DataFrame:
        """Read specific staged (not-yet-committed) files."""
        return spark.read.parquet(*[os.path.join(self.root, f) for f in files])

    def stage_pandas(self, pdf, table: str, generation: int) -> list[str]:
        """Stage a tiny driver-side table (metrics/lineage rollups) directly
        via pyarrow — a 1-row Spark parquet write costs ~0.7 s of job
        scheduling; this costs ~1 ms."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        tdir = os.path.join(self.root, table)
        os.makedirs(tdir, exist_ok=True)
        dst = os.path.join(tdir, f"g{generation:05d}-{uuid.uuid4().hex}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), dst)
        return [os.path.relpath(dst, self.root)]

    def commit(self, generation: int, staged: dict[str, list[str]], stats: dict | None = None) -> None:
        """Atomically publish all staged files for one generation."""
        m = self._load()
        if generation != m["committed_generation"] + 1:
            raise ValueError(
                f"non-monotonic commit: have {m['committed_generation']}, got {generation}"
            )
        for table, files in staged.items():
            m["tables"].setdefault(table, [])
            m["tables"][table] = [
                f for f in m["tables"][table] if not os.path.basename(f).startswith(f"g{generation:05d}-")
            ] + files
        m["committed_generation"] = generation
        m["snapshots"].append({"generation": generation, "stats": stats or {}})
        self._write_manifest(m)  # atomic swap = the snapshot commit

    def commit_rewrite(
        self,
        rewritten: dict[str, list[str]],
        stats: dict | None = None,
    ) -> None:
        """Overwrite snapshot (the Iceberg overwrite-commit analog, for
        maintenance ops like seen-set purges): atomically REPLACE the full
        file list of each table in ``rewritten``, WITHOUT advancing
        committed_generation — crawl resume numbering is untouched, and the
        snapshot entry records the op in its stats. Replaced files stay on
        disk as orphans until :meth:`vacuum` (readers holding the old
        manifest keep working — snapshot isolation). NB :meth:`read_upto` time-travel keys on the
        filename generation prefix, not the snapshot id, so it sees
        rewritten content for all generations — same caveat as Iceberg
        overwrite vs pre-overwrite snapshot ids."""
        m = self._load()
        for table, files in rewritten.items():
            m["tables"][table] = files
        m["snapshots"].append(
            {"generation": m["committed_generation"], "stats": stats or {}}
        )
        self._write_manifest(m)

    def read(self, spark: SparkSession, table: str) -> DataFrame | None:
        m = self._load()
        files = m["tables"].get(table, [])
        if not files:
            return None
        return spark.read.parquet(*[os.path.join(self.root, f) for f in files])

    def read_upto(self, spark: SparkSession, table: str, generation: int) -> DataFrame | None:
        """Time-travel read: only files committed at generations <= g."""
        m = self._load()
        files = [
            f
            for f in m["tables"].get(table, [])
            if int(os.path.basename(f)[1:6]) <= generation
        ]
        if not files:
            return None
        return spark.read.parquet(*[os.path.join(self.root, f) for f in files])

    def compact(
        self,
        spark: SparkSession,
        table: str,
        *,
        min_files_per_group: int = 2,
        collapse: bool = False,
        coalesce: int = 1,
        sort_by: str | None = None,
    ) -> dict:
        """Small-file compaction — the Iceberg ``rewrite_data_files``
        maintenance action. A long crawl appends at least one file per
        table per generation (10^10-URL design point: thousands of
        generations -> thousands of footers per scan), so periodic
        compaction bounds file count without touching semantics.

        Default mode groups files by their ``g{generation:05d}-`` name
        prefix and rewrites each group holding >= ``min_files_per_group``
        files down to ``coalesce`` file(s) UNDER THE SAME PREFIX —
        :meth:`read_upto` time travel and resume numbering are preserved
        exactly. ``collapse=True`` additionally merges ALL generations
        into one group filed under the latest generation prefix (right for
        cumulative-state tables like ``url_seen`` where any generation's
        rows remain live forever; it forfeits per-generation time travel
        for that table — the same documented tradeoff as a purge
        overwrite).

        ``sort_by`` additionally sorts rows within each rewritten file
        (``sortWithinPartitions``) so parquet row-group min/max statistics
        become selective for point probes on that column — the Iceberg
        sort-order/z-order analog; right for ``url_seen`` on ``url_hash``
        where every anti-join is a hash-key probe. Row ORDER inside a
        catalog table is never semantic (readers treat tables as sets), so
        this is stats-only.

        Row counts are verified from parquet footers before the commit;
        replaced files become orphans reclaimed by :meth:`vacuum`.
        Publication is a single :meth:`commit_rewrite` (atomic manifest
        swap): readers holding the old manifest keep working — snapshot
        isolation, no reader-visible intermediate state."""
        m = self._load()
        files = list(m["tables"].get(table, []))
        if not files:
            return {"table": table, "before_files": 0, "after_files": 0, "rows": 0}
        groups: dict[int, list[str]] = {}
        if collapse:
            latest = max(int(os.path.basename(f)[1:6]) for f in files)
            groups[latest] = files
        else:
            for f in files:
                groups.setdefault(int(os.path.basename(f)[1:6]), []).append(f)
        new_list: list[str] = []
        rewritten_old: list[str] = []
        if sort_by is not None:
            import pyarrow.parquet as _pq

            schema_cols = set(
                _pq.read_schema(os.path.join(self.root, files[0])).names
            )
            if sort_by not in schema_cols:
                raise ValueError(
                    f"compact sort_by column {sort_by!r} not in table "
                    f"{table!r} (columns: {sorted(schema_cols)})"
                )
        for gen in sorted(groups):
            group = groups[gen]
            # an explicit sort request rewrites even single-file groups
            # (an already-collapsed url_seen must still be sortable)
            threshold = 1 if sort_by is not None else max(
                min_files_per_group, coalesce + 1
            )
            if len(group) < threshold:
                new_list.extend(group)
                continue
            df = self.read_files(spark, group)
            if sort_by is not None:
                # coalesce FIRST so each output file is one fully-sorted
                # partition (sorting before the merge would leave
                # interleaved sorted runs and useless row-group stats)
                df = df.coalesce(coalesce).sortWithinPartitions(sort_by)
                staged = self.stage(df, table, gen)
            else:
                staged = self.stage(df, table, gen, coalesce=coalesce)
            if self.staged_rows(staged) != self.staged_rows(group):
                for s in staged:  # abort: never commit a lossy rewrite
                    os.remove(os.path.join(self.root, s))
                raise RuntimeError(
                    f"compact row-count mismatch for {table} g{gen:05d}"
                )
            new_list.extend(staged)
            rewritten_old.extend(group)
        if not rewritten_old:
            return {
                "table": table,
                "before_files": len(files),
                "after_files": len(files),
                "rows": self.staged_rows(files),
            }
        self.commit_rewrite(
            {table: new_list},
            stats={
                "op": "compact",
                "table": table,
                "collapse": collapse,
                "before_files": len(files),
                "after_files": len(new_list),
            },
        )
        return {
            "table": table,
            "before_files": len(files),
            "after_files": len(new_list),
            "rows": self.staged_rows(new_list),
        }

    def rollback(self, to_generation: int) -> dict:
        """Roll the catalog back to the state committed at ``to_generation``
        — the reset half of the reference's checkpoint manager
        (``SP/tools/checkpoint_manager_cli.py`` list/resume/reset/export;
        the Iceberg ``rollback_to_snapshot`` analog). An operator who
        committed a bad generation truncates it away and resumes from N,
        instead of purging hosts or restarting the crawl.

        Mechanics (one atomic manifest swap, same as every commit):

        - every table drops its files with a ``g{gen:05d}-`` prefix > N —
          they stay on disk as orphans until :meth:`vacuum`, so a reader
          holding the old manifest keeps working (snapshot isolation);
        - ``committed_generation`` returns to N, so ``run(resume=True)``
          re-runs N+1.. exactly as if the crawl had stopped at N;
        - the snapshot log is truncated past N's commit entry and the
          rollback itself is recorded as a maintenance-op entry
          (op entries are always kept by :meth:`expire_snapshots`).

        REFUSED when a maintenance op that REWRITES earlier-generation
        files (purge, compact) was committed after generation N: the
        pre-op state of gens <= N is no longer reachable from this
        manifest and a silent rollback would resurrect a corrupted table
        view. Run the rollback first, maintain after — or start a fresh
        workdir. Two ops compose with rollback instead of refusing:
        earlier ``rollback`` entries (they only drop refs ABOVE their
        target, which the log order proves is >= N), and
        ``adaptive_retention_compact`` when N >= its recorded ``as_of``
        (the merged adaptive_stats file sits under the g{as_of}- prefix
        and encodes exactly the WINDOW prefix a crawl stopped at N would
        consume — the automatic mid-crawl retention cadence therefore
        never locks rollback out of the post-compaction range)."""
        m = self._load()
        cur = m["committed_generation"]
        if not 0 <= to_generation <= cur:
            raise ValueError(
                f"rollback target {to_generation} outside committed range "
                f"0..{cur}"
            )
        if to_generation == cur:
            return {"op": "rollback", "from": cur, "to": cur, "dropped_files": 0}
        idx = None
        for i, s in enumerate(m["snapshots"]):
            st = s.get("stats", {})
            if s.get("generation") == to_generation and "op" not in st:
                idx = i
        if idx is None:
            raise ValueError(
                f"no crawl commit found for generation {to_generation} in "
                "the snapshot log (expired?) — cannot anchor the rollback"
            )
        severed = []
        for s in m["snapshots"][idx + 1 :]:
            st = s.get("stats", {})
            op = st.get("op")
            if not op:
                continue
            if op == "rollback":
                # a rollback op at target T only DROPS file refs with
                # gen > T, and the log is chronological: an op surviving
                # after this anchor implies T >= to_generation, so the
                # state at to_generation was never touched — repeated /
                # deeper rollbacks compose freely
                continue
            if op == "adaptive_retention_compact" and (
                st.get("as_of") is not None
                and to_generation >= st["as_of"]
            ):
                # the retention rewrite merged adaptive_stats into ONE
                # file under the g{as_of}- prefix using the derivation's
                # own WINDOW-prefix rule; rolling back to N >= as_of keeps
                # that file plus every later delta <= N, which IS the
                # compacted state a crawl stopped at N would hold — exact.
                # N < as_of would drop the merged history entirely
                # (resume would see an empty table, breaking adaptive
                # parity), so that direction still refuses below.
                continue
            severed.append(op)
        if severed:
            raise ValueError(
                "rollback refused: maintenance op(s) "
                f"{sorted(set(severed))} were committed after generation "
                f"{to_generation} and rewrote files of earlier generations; "
                "the pre-op state is not reachable from this manifest"
            )
        dropped = 0
        for table in sorted(m["tables"]):
            keep = [
                f
                for f in m["tables"][table]
                if int(os.path.basename(f)[1:6]) <= to_generation
            ]
            dropped += len(m["tables"][table]) - len(keep)
            if keep:
                m["tables"][table] = keep
            else:
                del m["tables"][table]
        m["snapshots"] = m["snapshots"][: idx + 1]
        m["committed_generation"] = to_generation
        op = {
            "op": "rollback",
            "from": cur,
            "to": to_generation,
            "dropped_files": dropped,
        }
        m["snapshots"].append({"generation": to_generation, "stats": dict(op)})
        self._write_manifest(m)
        return op

    def expire_snapshots(self, keep_last: int = 100) -> int:
        """Trim the snapshot LOG (the Iceberg ``expire_snapshots`` analog
        for this manifest): drop plain generation-commit entries older than
        the last ``keep_last`` log entries. Entries whose stats carry an
        ``op`` (purge_host, compact — maintenance overwrites) are ALWAYS
        kept: crawl resume consults the log to decide whether a killed
        purge already applied (plans/crawl.py), so expiring one could
        re-apply an eviction onto re-fetched rows. Only the log shrinks —
        table file lists, committed_generation and read_upto time travel
        are untouched (time travel keys on filename prefixes, not snapshot
        ids). Returns the number of expired entries."""
        m = self._load()
        snaps = m["snapshots"]
        if len(snaps) <= keep_last:
            return 0
        cut = len(snaps) - keep_last
        kept = [
            s for i, s in enumerate(snaps)
            if i >= cut or (s.get("stats") or {}).get("op") is not None
        ]
        expired = len(snaps) - len(kept)
        if expired == 0:
            return 0
        m["snapshots"] = kept
        self._write_manifest(m)
        return expired

    def snapshots(self) -> list[dict]:
        return self._load()["snapshots"]

    def orphan_files(self) -> list[str]:
        """Files not referenced by the manifest (left by crashed
        generations) — what :meth:`vacuum` would delete, without deleting
        (the health-check / dry-run view)."""
        m = self._load()
        referenced = {os.path.normpath(f) for files in m["tables"].values() for f in files}
        orphans = []
        for dirpath, _dirnames, filenames in os.walk(self.root):
            for name in filenames:
                full = os.path.join(dirpath, name)
                rel = os.path.normpath(os.path.relpath(full, self.root))
                if rel == os.path.basename(self._manifest_path):
                    continue
                if rel.startswith("_stage-") or (
                    rel not in referenced and rel.endswith(".parquet")
                ):
                    orphans.append(rel)
        return orphans

    def vacuum(self) -> list[str]:
        """Delete files not referenced by the manifest (orphans left by
        crashed generations) — the Iceberg remove_orphan_files maintenance
        action. Safe because readers only ever see manifest-listed files."""
        removed = []
        for rel in self.orphan_files():
            os.remove(os.path.join(self.root, rel))
            removed.append(rel)
        # drop empty staging dirs
        for dirpath, dirnames, filenames in list(os.walk(self.root, topdown=False)):
            if not dirnames and not filenames and dirpath != self.root:
                os.rmdir(dirpath)
        return removed
