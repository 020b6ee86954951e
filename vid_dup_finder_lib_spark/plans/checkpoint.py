"""Checkpoint store: resumable per-stage tables with lineage + metrics.

North-rule requirements re-expressed from the reference's cache layer:

* atomic persistence — the reference writes a temp file, fsyncs and renames
  (``base_fs_cache.rs:84-164``); here each stage writes to a temp dir and
  atomically renames it over the stage path (parquet stands in for Iceberg —
  the Iceberg runtime jar is not in this container; the store isolates that
  choice behind one class);
* config fingerprint guard — stage tables carry the SigConfig fingerprint
  and are refused (``validate-or-die``, cache_metadata.rs:127-162) when it
  mismatches;
* resume — a completed stage (manifest present, fingerprint matching) is
  *skipped* and its table re-read, so a killed job resumes from the last
  finished stage;
* metrics + lineage — every stage records row count, per-partition row
  counts (via ``spark_partition_id``), wall time and upstream stage names
  into ``_manifest.json`` (A7's stats prints, made durable);
* staleness — every write gets a fresh ``write_id``, and a stage records
  the ``write_id`` of each upstream it was built from (the signature
  store's manifest carries one too); ``run_stage`` rebuilds a stage whose
  upstreams were rewritten since, so a re-run over a grown corpus never
  reuses edges or groups of the old one;
* snapshot retention — each overwrite retires the outgoing stage
  generation into ``.snapshots/<stage>/<generation>/``, K generations deep
  (``keep_generations``; the reference keeps *timestamped, plural* DB
  backups, ``match_db.rs:358-374,432-446``); ``restore(name)`` swaps the
  newest one back — repeatedly, down the retained history — so a bad run
  discovered several refreshes later is still recoverable;
* pipeline-level knobs beyond SigConfig (strip_boilerplate, min-df, ...)
  fold into the fingerprint via ``extra_fingerprint`` so toggling them can
  never silently reuse stages computed under different preprocessing.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vid_dup_finder_lib_spark.config import SigConfig

_MANIFEST = "_manifest.json"
_SNAPSHOTS = ".snapshots"


class CheckpointStore:
    def __init__(
        self,
        root: str,
        cfg: SigConfig,
        extra_fingerprint: dict | None = None,
        keep_generations: int = 3,
    ):
        """``extra_fingerprint``: semantics-affecting knobs that live outside
        SigConfig (e.g. the pipeline's strip_boilerplate/boilerplate_min_df).
        They extend the stage fingerprint, so a stage built under one value
        is refused under another — without this, re-running with a different
        min-df would silently reuse the stale ``docs_stripped`` table (and
        signatures computed from the other preprocessing), because the
        refresh diff keys only on ``warc_ts``, which the strip preserves.

        ``keep_generations``: retained snapshot generations per stage
        (oldest GC'd first).  Retention policy, not a semantics knob — not
        part of the fingerprint."""
        self.root = root
        self.cfg = cfg
        self.extra_fingerprint = dict(extra_fingerprint or {})
        self.keep_generations = max(1, int(keep_generations))
        os.makedirs(root, exist_ok=True)
        self._sweep()

    def _sweep(self) -> None:
        """Delete crash leftovers: ``.tmp-*`` write dirs (their stage looks
        incomplete and rebuilds) and ``.trash-*`` restore dirs (they only
        ever hold the generation being discarded)."""
        for d in os.listdir(self.root):
            if d.startswith(".tmp-") or d.startswith(".trash-"):
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)

    def _snap_dir(self, name: str) -> str:
        return os.path.join(self.root, _SNAPSHOTS, name)

    def snapshots(self, name: str) -> list[str]:
        """Retained generation names for a stage, oldest → newest (the
        names embed the retirement timestamp in ms)."""
        d = self._snap_dir(name)
        if not os.path.isdir(d):
            return []
        return sorted(x for x in os.listdir(d) if x.startswith("gen-"))

    def fingerprint(self) -> str:
        base = self.cfg.fingerprint()
        if not self.extra_fingerprint:
            return base
        payload = base + json.dumps(
            self.extra_fingerprint, sort_keys=True, default=str
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    def _stage_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._stage_dir(name), _MANIFEST)

    def manifest(self, name: str) -> dict | None:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def is_complete(self, name: str) -> bool:
        m = self.manifest(name)
        if m is None:
            return False
        if m.get("fingerprint") != self.fingerprint():
            # analog of the reference's metadata validate-or-die: a stage
            # built under different options is never silently reused
            raise ValueError(
                f"stage {name!r} was checkpointed under fingerprint "
                f"{m.get('fingerprint')} (options {m.get('options')}) but the "
                f"current configuration is {self.fingerprint()}; clear "
                f"{self._stage_dir(name)} or use a matching configuration"
            )
        return True

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self._stage_dir(name), "data"))

    def _upstream_ids(self, upstream: list[str] | None) -> dict:
        """{upstream stage: its current write_id} for the upstreams that are
        stages under this root (the signature store included); other names,
        like the raw ``docs`` input, carry no identity."""
        ids = {}
        for u in upstream or []:
            m = self.manifest(u)
            if m is not None:
                ids[u] = m.get("write_id")
        return ids

    def write(
        self,
        name: str,
        df: DataFrame,
        upstream: list[str] | None = None,
    ) -> DataFrame:
        """Materialize a stage atomically; returns the re-read DataFrame (so
        downstream consumers scan the table, not the producing plan)."""
        spark = df.sparkSession
        t0 = time.time()
        tmp = os.path.join(self.root, f".tmp-{name}-{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(os.path.join(tmp, "data"))

        written = spark.read.parquet(os.path.join(tmp, "data"))
        part_counts = (
            written.groupBy(F.spark_partition_id().alias("partition_id"))
            .count()
            .collect()
        )
        manifest = {
            "stage": name,
            "fingerprint": self.fingerprint(),
            "options": self.extra_fingerprint,
            "row_count": int(sum(r["count"] for r in part_counts)),
            "partition_rows": {int(r["partition_id"]): int(r["count"]) for r in part_counts},
            "num_partitions": len(part_counts),
            "upstream": upstream or [],
            "upstream_ids": self._upstream_ids(upstream),
            "write_id": uuid.uuid4().hex,
            "wall_seconds": round(time.time() - t0, 3),
            "schema": written.schema.simpleString(),
        }
        with open(os.path.join(tmp, _MANIFEST), "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)

        # snapshot retention: the outgoing generation is retired into
        # .snapshots/<stage>/<generation>/ instead of being destroyed
        # (match_db.rs keeps timestamped, PLURAL backups) — K generations
        # deep, oldest GC'd; restore() walks them newest-first
        final = self._stage_dir(name)
        if os.path.exists(final):
            snap_dir = self._snap_dir(name)
            os.makedirs(snap_dir, exist_ok=True)
            gen = f"gen-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:6]}"
            os.rename(final, os.path.join(snap_dir, gen))
            for old in self.snapshots(name)[: -self.keep_generations]:
                shutil.rmtree(os.path.join(snap_dir, old), ignore_errors=True)
        os.rename(tmp, final)  # atomic on the same filesystem
        return self.read(spark, name)

    def restore(self, name: str) -> dict:
        """Swap the NEWEST retained generation back in (recovery from a
        bad/corrupt run).  The bad current generation is discarded; the
        consumed snapshot leaves the history, so calling again restores
        the next one back — up to ``keep_generations`` deep.  Returns the
        restored manifest; raises FileNotFoundError when no generation is
        retained.

        Crash-safe: the discarded current dir is RENAMED into a trash dir
        (swept on the next store construction), never rmtree'd in place;
        a retry after a crash between the two renames finds the stage dir
        absent and simply promotes the snapshot."""
        self._sweep()
        snaps = self.snapshots(name)
        if not snaps:
            raise FileNotFoundError(
                f"no retained previous generation for stage {name!r} "
                f"({self._snap_dir(name)})"
            )
        final = self._stage_dir(name)
        if os.path.exists(final):
            trash = os.path.join(self.root, f".trash-{uuid.uuid4().hex[:8]}")
            os.rename(final, trash)
        else:
            trash = None
        os.rename(os.path.join(self._snap_dir(name), snaps[-1]), final)
        if trash is not None:
            shutil.rmtree(trash, ignore_errors=True)
        m = self.manifest(name)
        if m is None:
            raise ValueError(f"restored stage {name!r} has no manifest")
        return m

    def run_stage(
        self,
        spark: SparkSession,
        name: str,
        build,
        upstream: list[str] | None = None,
        force: bool = False,
    ) -> DataFrame:
        """Resume-aware stage execution: skip + re-read when complete and
        built from the current generation of every upstream."""
        if (
            not force
            and self.is_complete(name)
            # a manifest from before upstream ids were recorded reads as {}:
            # stages over the raw input stay reusable, stages over a store
            # or another stage rebuild once
            and self.manifest(name).get("upstream_ids", {}) == self._upstream_ids(upstream)
        ):
            return self.read(spark, name)
        return self.write(name, build(), upstream)

    def metrics(self) -> dict[str, dict]:
        out = {}
        for name in sorted(os.listdir(self.root)):
            if name.startswith("."):
                continue  # .snapshots / crashed .tmp- and .trash- dirs are not live stages
            m = self.manifest(name)
            if m is not None:
                out[name] = m
        return out
