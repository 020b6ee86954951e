"""Hash-partitioned signature store: O(delta) persistence for incremental
refresh.

Round-2's one genuine scale gap: ``refresh_signatures`` COMPUTES only the
delta (the Arrow kernel touches changed rows only) but the checkpoint layer
PERSISTED by rewriting the whole signatures table — at 10^12 rows a daily
0.1 % delta would rewrite 100 TB of signature state per run.  The reference
touches only mutated cache entries (batched upserts,
``base_fs_cache.rs:254-270``; mtime diff ``processing_fs_cache.rs:149-199``).

This store is the Spark analog of an Iceberg ``MERGE INTO`` (the Iceberg
runtime jar is not in this container; the class isolates that choice):

* the table is partitioned on ``bucket = pmod(xxhash64(id), num_buckets)``
  — a stable hash of the primary key, so a row's partition never moves;
* an upsert computes the DIRTY bucket set from the delta (recomputed ∪
  deleted ids — typically a small fraction of buckets at daily-delta rates,
  and never more than num_buckets), reads ONLY those partitions back
  (partition pruning on the bucket filter), merges, and rewrites ONLY those
  bucket directories;
* each bucket swap is temp-write + rename (the same atomicity discipline as
  the checkpoint store); the outgoing generation of every rewritten bucket
  is retained under ``gens/<generation>/`` — K generations deep
  (``keep_generations``), the analog of the reference's *timestamped,
  plural* match-DB backups (``match_db.rs:358-374,432-446``) — and the
  manifest (fingerprint guard + per-bucket row lineage + the generation
  ledger) is written last;
* the swap is JOURNALED: retired buckets move into a ``.pending-<gen>``
  dir carrying an ``_intent.json`` (dirty + created sets) BEFORE any
  rename touches live data, and the dir is promoted to its final name only
  after the manifest commits.  A crash mid-upsert therefore leaves a
  decidable state: intent present + manifest lacks the generation → roll
  the partial swap BACK; manifest has it → the swap finished, roll
  FORWARD (promote the dir).  Round 3 retired buckets first and wrote the
  manifest last with no marker, so a mid-upsert crash left the NEW
  generation's retired buckets under the OLD manifest's dirty list — a
  restore would then silently mix generations.
* every public operation first sweeps crash leftovers (``.restore-trash-*``,
  ``.tmp-*``, generation dirs no longer in the ledger) and runs the
  journal recovery above.

Write path cost per refresh: O(|delta| + |dirty buckets| · bucket size) —
O(corpus) only when the delta touches every bucket, which at 10^12 rows and
sized ``num_buckets`` means the store rewrites exactly what changed.
Retention adds NO write cost (retirement is a rename) and bounded space:
at most ``keep_generations`` × the dirty-bucket footprint of each upsert.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vid_dup_finder_lib_spark.config import SigConfig

_MANIFEST = "_manifest.json"
_GENS = "gens"
_INTENT = "_intent.json"


def bucket_col(id_col: str, num_buckets: int):
    """Stable bucket assignment — MUST be the same expression on every code
    path (full write, upsert, dirty-set computation) or rows migrate."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_buckets)).cast("int")


class PartitionedSignatureStore:
    """Bucketed parquet table with delta-only upsert.

    Schema-agnostic beyond requiring an ``id`` primary-key column; the
    pipeline stores the signature table here.  ``num_buckets`` sizes the
    rewrite granularity: dirty-partition rewrite cost is
    ``corpus_rows / num_buckets`` per dirty bucket, so at cluster scale
    pick ``num_buckets ≈ corpus_size / target_partition_size`` (10^4-10^5
    for 10^12 rows); the default suits the sandbox scale.
    """

    def __init__(
        self,
        root: str,
        cfg: SigConfig,
        num_buckets: int = 64,
        extra_fingerprint: dict | None = None,
        keep_generations: int = 3,
    ):
        """``keep_generations``: how many upsert generations of retired
        buckets to retain for time travel / rollback (GC'd oldest-first).
        Not part of the fingerprint — it is a retention policy, not a
        semantics knob."""
        self.root = root
        self.cfg = cfg
        self.num_buckets = num_buckets
        self.extra_fingerprint = dict(extra_fingerprint or {})
        self.keep_generations = max(1, int(keep_generations))
        os.makedirs(root, exist_ok=True)
        self._sweep_and_recover()

    # -- identity ----------------------------------------------------------

    def fingerprint(self) -> str:
        import hashlib

        payload = self.cfg.fingerprint() + json.dumps(
            {"num_buckets": self.num_buckets, **self.extra_fingerprint},
            sort_keys=True,
            default=str,
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    def _data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def _full_pending_path(self) -> str:
        return os.path.join(self.root, ".full-pending")

    def _manifest_path(self) -> str:
        return os.path.join(self.root, _MANIFEST)

    def manifest(self) -> dict | None:
        p = self._manifest_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def exists(self) -> bool:
        m = self.manifest()
        if m is None:
            return False
        self._validate_fingerprint(m)
        return True

    def _validate_fingerprint(self, m: dict) -> None:
        if m.get("fingerprint") != self.fingerprint():
            raise ValueError(
                f"signature store at {self.root} was written under fingerprint "
                f"{m.get('fingerprint')} but the current configuration is "
                f"{self.fingerprint()}; clear it or use a matching config"
            )

    # -- read --------------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame:
        """Full table scan (bucket column dropped — it is storage-internal).

        Validates the manifest fingerprint first: signatures from a
        different config (or signature UNIT — char minhashes are
        structurally identical columns to token minhashes) must never be
        consumed silently.  ``exists()`` guards the write/reuse path; this
        guards every consumer that reads without asking ``exists()``
        (e.g. the fold modes).
        """
        m = self.manifest()
        if m is not None:
            self._validate_fingerprint(m)
        self._sweep_and_recover()
        return spark.read.parquet(self._data_dir()).drop("bucket")

    def _read_buckets(self, spark: SparkSession, buckets: list[int]) -> DataFrame:
        """Scan restricted to the given buckets; the IN filter on the
        partition column prunes every other directory at planning time."""
        return spark.read.parquet(self._data_dir()).where(
            F.col("bucket").isin([int(b) for b in buckets])
        )

    def read_for_ids(self, ids_df: DataFrame) -> DataFrame:
        """Bucket-pruned point-set read: scan ONLY the partitions the given
        ids (first column of ``ids_df``) hash into, then semi-join to the
        exact set.  The driver sees bucket NUMBERS only (distinct,
        ≤ num_buckets values — the same discipline as ``upsert``'s
        dirty-set collect, never ids); at corpus scale this reads
        O(|ids| / num_buckets · store) bytes instead of the whole table.
        Planning-time directory pruning is plan-asserted
        (tests/test_search_delete.py).  Fingerprint-validated like
        ``read()``."""
        m = self.manifest()
        if m is not None:
            self._validate_fingerprint(m)
        self._sweep_and_recover()
        spark = ids_df.sparkSession
        ids = ids_df.select(F.col(ids_df.columns[0]).alias("id")).distinct()
        buckets = sorted(
            int(r["b"])
            for r in ids.select(bucket_col("id", self.num_buckets).alias("b"))
            .distinct()
            .collect()
        )
        if not buckets:
            return self.read(spark).limit(0)
        return (
            self._read_buckets(spark, buckets)
            .drop("bucket")
            .join(ids, "id", "left_semi")
        )

    def delete(self, ids_df: DataFrame, id_col: str = "id") -> dict:
        """Drop the given ids from the store — a pure-delete ``upsert``
        (O(delta) bucket rewrite, journaled swap, generation retained).
        Ids not present are no-ops; returns upsert's lineage dict."""
        spark = ids_df.sparkSession
        empty = self.read(spark).limit(0)
        return self.upsert(empty, deleted_ids=ids_df, id_col=id_col)

    # -- generation ledger + crash recovery --------------------------------

    def _gens_root(self) -> str:
        return os.path.join(self.root, _GENS)

    def _generations(self) -> list[dict]:
        """The retained-generation ledger, oldest → newest."""
        m = self.manifest()
        return list(m.get("generations", [])) if m else []

    def _sweep_and_recover(self) -> None:
        """Crash hygiene, run before every store operation (driver-side
        metadata only — a few listdirs, no data IO):

        * stale ``.restore-trash-*`` / ``.tmp-*`` dirs are deleted — trash
          only ever holds copies being DISCARDED by the op that made it,
          never the sole copy of wanted data (round-3 advice: each crashed
          restore attempt leaked one forever);
        * a ``.pending-<gen>`` journal dir is resolved: if the manifest's
          ledger already names the generation, the swap completed before
          the crash → roll FORWARD (promote the dir); otherwise roll the
          partial swap BACK from the intent (old copies return to data/,
          created buckets are removed);
        * generation dirs absent from the ledger (a GC that crashed after
          the manifest commit) are deleted.
        """
        for d in os.listdir(self.root):
            if d.startswith(".restore-trash-") or d.startswith(".tmp-"):
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        if os.path.exists(self._full_pending_path()):
            # a full write crashed between swapping data/ and committing its
            # manifest: the manifest (row counts, generation ledger) may
            # describe the PREVIOUS table while data/ holds the new one —
            # undecidable without re-running the write, so refuse loudly
            # instead of letting read_as_of mix generations
            raise RuntimeError(
                f"signature store at {self.root}: an interrupted full write "
                "left the manifest out of sync with data/ (.full-pending "
                "marker present) — re-run write_full to rebuild"
            )
        gens_root = self._gens_root()
        if not os.path.isdir(gens_root):
            return
        known = {g["name"] for g in self._generations()}
        for d in sorted(os.listdir(gens_root)):
            p = os.path.join(gens_root, d)
            if d.startswith(".pending-"):
                self._recover_pending(p, known)
            elif d not in known:
                shutil.rmtree(p, ignore_errors=True)
            else:
                # crash between promote and intent-strip leaves a stale
                # intent file inside a committed generation dir
                stale = os.path.join(p, _INTENT)
                if os.path.exists(stale):
                    os.remove(stale)

    def _recover_pending(self, pending: str, known: set[str]) -> None:
        intent_path = os.path.join(pending, _INTENT)
        if not os.path.exists(intent_path):
            # crashed before the intent write: nothing was swapped yet
            shutil.rmtree(pending, ignore_errors=True)
            return
        with open(intent_path) as f:
            intent = json.load(f)
        name = intent["name"]
        if name in known:
            # manifest committed after the full swap -> roll FORWARD.
            # Promote FIRST, then strip the intent file: the reverse order
            # would leave an intent-less .pending dir (indistinguishable
            # from a crash-before-intent, whose recovery is deletion).
            final = os.path.join(self._gens_root(), name)
            os.rename(pending, final)
            os.remove(os.path.join(final, _INTENT))
            return
        # roll BACK the partial swap: every retired copy returns, every
        # bucket the crashed upsert created or rewrote is discarded (it is
        # reproducible from the delta; nothing references it)
        data = self._data_dir()
        created = {int(b) for b in intent["created"]}
        for b in (int(x) for x in intent["dirty"]):
            old = os.path.join(pending, f"bucket={b}")
            cur = os.path.join(data, f"bucket={b}")
            if os.path.exists(old):
                if os.path.exists(cur):
                    shutil.rmtree(cur)
                os.rename(old, cur)
            elif b in created and os.path.exists(cur):
                shutil.rmtree(cur)
        shutil.rmtree(pending, ignore_errors=True)

    # -- time travel / rollback --------------------------------------------

    def read_as_of(self, spark: SparkSession, gens_back: int = 1) -> DataFrame:
        """Time travel: the table as of BEFORE the last ``gens_back``
        upserts — clean buckets from the current generation, undone buckets
        overlaid from the retained generation dirs (match_db.rs
        timestamped-backup analog, ``keep_generations`` deep).  Raises if
        fewer generations are retained than requested.

        Overlay rule: walking the undone generations oldest-first, the
        FIRST generation that touched a bucket supplies its as-of content
        (that copy is the bucket's state just before the oldest undone
        upsert); a bucket first CREATED inside the undone range is absent.
        """
        self._sweep_and_recover()
        gens = self._generations()
        if gens_back < 1 or gens_back > len(gens):
            raise ValueError(
                f"signature store at {self.root} has no retained previous "
                f"generation at depth {gens_back} (retained: {len(gens)}; "
                "generations are kept per-upsert, keep_generations deep)"
            )
        overlay: dict[int, str | None] = {}
        for g in gens[len(gens) - gens_back :]:  # oldest undone first
            created = {int(b) for b in g.get("created_buckets", [])}
            for b in (int(x) for x in g["dirty_buckets"]):
                if b in overlay:
                    continue  # an older undone generation already owns it
                overlay[b] = (
                    None
                    if b in created
                    else os.path.join(self._gens_root(), g["name"], f"bucket={b}")
                )
        clean = (
            spark.read.parquet(self._data_dir())
            .where(~F.col("bucket").isin(list(overlay)))
            .drop("bucket")
        )
        paths = [p for p in overlay.values() if p is not None]
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:  # a non-created dirty bucket ALWAYS has a retired copy
            raise RuntimeError(
                f"signature store at {self.root}: ledger references retired "
                f"bucket dirs that do not exist ({missing[:3]}…) — store corrupted"
            )
        if not paths:
            return clean
        prev = spark.read.parquet(*paths)
        if "bucket" in prev.columns:  # partition col not inferred from leaf dirs
            prev = prev.drop("bucket")
        return clean.unionByName(prev)

    def read_previous(self, spark: SparkSession) -> DataFrame:
        """The table as of before the last upsert (= ``read_as_of(1)``)."""
        return self.read_as_of(spark, gens_back=1)

    def restore_previous(self, spark: SparkSession) -> dict:
        """Roll back the NEWEST retained upsert in place: every bucket it
        dirtied is replaced by its retired copy; a bucket it CREATED is
        removed.  Pops that generation from the ledger — calling again
        rolls back the next one, down to ``keep_generations`` deep.

        Crash-safe and idempotent: live data is only ever RENAMED into a
        trash dir (never rmtree'd in place), and each bucket's step is
        decided from the ledger's created-set plus the on-disk state — a
        retry after a mid-restore crash skips buckets whose retired copy
        was already swapped in (gen copy gone + cur present) instead of
        deleting the restored data.  Trash is deleted only after the
        manifest commit (and a crashed attempt's trash is swept on the
        next operation)."""
        self._sweep_and_recover()
        gens = self._generations()
        if not gens:
            raise ValueError(
                f"signature store at {self.root} has no retained previous "
                "generation to restore"
            )
        t0 = time.time()
        g = gens[-1]
        dirty = [int(b) for b in g["dirty_buckets"]]
        created = {int(b) for b in g.get("created_buckets", [])}
        gen_dir = os.path.join(self._gens_root(), g["name"])
        data = self._data_dir()
        trash = os.path.join(self.root, f".restore-trash-{uuid.uuid4().hex[:8]}")
        os.makedirs(trash, exist_ok=True)
        for b in dirty:
            cur = os.path.join(data, f"bucket={b}")
            old = os.path.join(gen_dir, f"bucket={b}")
            if b in created:
                # upsert created it; restore = remove (rename, not delete)
                if os.path.exists(cur):
                    os.rename(cur, os.path.join(trash, f"bucket={b}"))
            elif os.path.exists(old):
                if os.path.exists(cur):
                    os.rename(cur, os.path.join(trash, f"bucket={b}"))
                os.rename(old, cur)
            elif not os.path.exists(cur):
                raise RuntimeError(
                    f"restore_previous: bucket={b} missing from BOTH current "
                    f"and retained generations at {self.root} — store corrupted"
                )
            # else: gen copy gone + cur present -> already restored by an
            # interrupted earlier attempt; nothing to do
        # O(delta) lineage: clean buckets keep their counts; the restored
        # buckets are recounted from a partition-pruned scan of just them
        # (on-disk truth post-swap; a created bucket that restore removed
        # simply contributes no rows and leaves the map)
        m_now = self.manifest()
        per_bucket = None
        schema_str = None
        if m_now is not None and "partition_rows" in m_now:
            per_bucket = {
                int(k): int(v)
                for k, v in m_now["partition_rows"].items()
                if int(k) not in set(dirty)
            }
            for r in (
                self._read_buckets(spark, dirty)
                .groupBy("bucket")
                .agg(F.count("*").alias("cnt"))
                .collect()
            ):
                per_bucket[int(r["bucket"])] = int(r["cnt"])
            schema_str = m_now.get("schema")
        self._write_manifest(
            spark,
            "restore",
            dirty,
            t0,
            extra={"generations": gens[:-1], "last_created_buckets": []},
            per_bucket=per_bucket,
            schema_str=schema_str,
        )
        shutil.rmtree(gen_dir, ignore_errors=True)
        shutil.rmtree(trash, ignore_errors=True)
        return {"restored_buckets": dirty}

    # -- write -------------------------------------------------------------

    def _write_manifest(
        self,
        spark: SparkSession,
        op: str,
        dirty: list[int],
        t0: float,
        extra: dict | None = None,
        per_bucket: dict[int, int] | None = None,
        schema_str: str | None = None,
    ) -> None:
        """``per_bucket``/``schema_str``: the O(delta) paths (upsert,
        restore) pass incrementally-maintained lineage so the manifest
        write never rescans the whole table — a full-table recount here
        would quietly turn every O(delta) upsert back into O(corpus)
        (round-4 fix; the full-write path still recounts, it just wrote
        everything anyway)."""
        if per_bucket is None:
            per_bucket = {
                int(r["bucket"]): int(r["cnt"])
                for r in spark.read.parquet(self._data_dir())
                .groupBy("bucket")
                .agg(F.count("*").alias("cnt"))
                .collect()
            }
        if schema_str is None:
            schema_str = spark.read.parquet(self._data_dir()).schema.simpleString()
        manifest = {
            "stage": "signatures",
            "fingerprint": self.fingerprint(),
            "options": self.extra_fingerprint,
            "num_buckets": self.num_buckets,
            "last_op": op,
            # identity of this table state: checkpoint stages built from the
            # store record it and rebuild when it changes
            "write_id": uuid.uuid4().hex,
            "last_dirty_buckets": sorted(int(b) for b in dirty),
            # ledger preserved unless the caller supplies a new one
            "generations": self._generations(),
            "row_count": sum(per_bucket.values()),
            "partition_rows": per_bucket,
            "num_partitions": len(per_bucket),
            "upstream": ["docs"],
            "wall_seconds": round(time.time() - t0, 3),
            "schema": schema_str,
        }
        manifest.update(extra or {})
        tmp = self._manifest_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, self._manifest_path())

    def write_full(self, df: DataFrame, id_col: str = "id") -> None:
        """Initial (or forced) full write: every bucket directory is laid
        down in one partitioned write, then swapped in atomically.  The
        generation ledger is CLEARED — retained generations describe
        bucket-level diffs against a lineage this rewrite discards.

        Crash discipline: a ``.full-pending`` marker brackets the
        swap-through-manifest window; every other operation REFUSES while
        it is present (an interrupted full write leaves the manifest
        describing the previous table — undecidable without re-running),
        and re-running write_full rebuilds from scratch."""
        t0 = time.time()
        marker = self._full_pending_path()
        if os.path.exists(marker):
            os.remove(marker)  # this run supersedes the crashed one
        self._sweep_and_recover()
        spark = df.sparkSession
        tmp = os.path.join(self.root, f".tmp-{uuid.uuid4().hex[:8]}")
        (
            df.withColumn("bucket", bucket_col(id_col, self.num_buckets))
            # one file per bucket dir: the write repartitions on the bucket
            # so a full write does not produce num_input_partitions files
            # per bucket directory
            .repartition(self.num_buckets, "bucket")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(tmp)
        )
        # marker BEFORE any destructive step, removed only after the
        # manifest commit: a crash anywhere between leaves the store in a
        # refuse-until-rerun state instead of a silently mixed one
        with open(marker, "w") as f:
            f.write("full write in progress\n")
        data = self._data_dir()
        if os.path.exists(data):
            shutil.rmtree(data)
        os.rename(tmp, data)
        # manifest first, THEN the gens sweep: the reverse order would leave
        # a crash window where the ledger references deleted dirs
        # (read_as_of raises on those); unreferenced dirs are merely
        # garbage the next _sweep_and_recover collects
        self._write_manifest(
            spark, "full", list(range(self.num_buckets)), t0,
            extra={"generations": []},
        )
        os.remove(marker)
        shutil.rmtree(self._gens_root(), ignore_errors=True)

    def upsert(
        self,
        recomputed: DataFrame,
        deleted_ids: DataFrame | None = None,
        id_col: str = "id",
    ) -> dict:
        """MERGE INTO-analog: replace/insert ``recomputed`` rows, drop
        ``deleted_ids``, rewriting ONLY the bucket partitions their ids hash
        into.  Returns {"dirty_buckets": [...], "rewritten": n}.

        The delta ids are collected to the driver only as BUCKET numbers
        (distinct, ≤ num_buckets values) — never as ids.
        """
        spark = recomputed.sparkSession
        t0 = time.time()
        self._sweep_and_recover()
        # the delta is consumed three times below (dirty-set collect, the
        # anti-join, the merged union); if it has an Arrow-UDF stage
        # upstream (it does: the signature kernel) each consumer would
        # re-execute it — materialize once, it is O(delta) by definition
        recomputed = recomputed.localCheckpoint(eager=True)
        delta_ids = recomputed.select(F.col(id_col).alias("id"))
        if deleted_ids is not None:
            delta_ids = delta_ids.unionByName(
                deleted_ids.select(F.col(deleted_ids.columns[0]).alias("id"))
            )
        delta_ids = delta_ids.distinct().localCheckpoint(eager=True)
        dirty = sorted(
            int(r["b"])
            for r in delta_ids.select(bucket_col("id", self.num_buckets).alias("b"))
            .distinct()
            .collect()
        )
        if not dirty:
            return {"dirty_buckets": [], "rewritten": 0}

        # merged content of the dirty buckets: surviving old rows + recomputed
        old = self._read_buckets(spark, dirty).drop("bucket")
        survivors = old.join(delta_ids, old[id_col] == delta_ids["id"], "left_anti")
        merged = survivors.unionByName(
            recomputed.select(*old.columns)
        ).withColumn("bucket", bucket_col(id_col, self.num_buckets))

        tmp = os.path.join(self.root, f".tmp-{uuid.uuid4().hex[:8]}")
        (
            merged.repartition(max(len(dirty), 1), "bucket")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(tmp)
        )

        # O(delta) lineage: clean buckets keep their previous manifest
        # counts; dirty buckets are recounted from the just-written tmp
        # dirs only (a dirty bucket whose rows were all deleted has no tmp
        # dir and leaves the map).  A full-table recount here would defeat
        # the O(delta) write path at corpus scale.
        prev_m = self.manifest()
        schema_str = None
        per_bucket = None
        if prev_m is not None and "partition_rows" in prev_m:
            per_bucket = {
                int(k): int(v)
                for k, v in prev_m["partition_rows"].items()
                if int(k) not in set(dirty)
            }
            has_new_dirs = any(
                d.startswith("bucket=") for d in os.listdir(tmp)
            )
            if has_new_dirs:
                tmp_scan = spark.read.parquet(tmp)
                schema_str = tmp_scan.schema.simpleString()
                for r in (
                    tmp_scan.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
                ):
                    per_bucket[int(r["bucket"])] = int(r["cnt"])
            else:  # every dirty-bucket row was deleted; nothing replaces them
                schema_str = prev_m.get("schema")

        # per-bucket atomic swap, JOURNALED: the intent (dirty + created
        # sets) is durably recorded in the .pending dir BEFORE any rename
        # touches live data, so a crash at any point leaves a decidable
        # state for _sweep_and_recover (see module docstring).  Outgoing
        # bucket generations are retained under gens/<generation>/,
        # keep_generations deep.
        gens_root = self._gens_root()
        os.makedirs(gens_root, exist_ok=True)
        gen_name = f"gen-{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:6]}"
        pending = os.path.join(gens_root, f".pending-{gen_name}")
        os.makedirs(pending)
        data = self._data_dir()
        created = [  # dirty buckets with NO prior dir: restore removes them
            int(b)
            for b in dirty
            if not os.path.exists(os.path.join(data, f"bucket={b}"))
        ]
        with open(os.path.join(pending, _INTENT), "w") as f:
            json.dump({"name": gen_name, "dirty": dirty, "created": created}, f)
        for b in dirty:
            cur = os.path.join(data, f"bucket={b}")
            new = os.path.join(tmp, f"bucket={b}")
            if os.path.exists(cur):
                os.rename(cur, os.path.join(pending, f"bucket={b}"))
            if os.path.exists(new):
                os.rename(new, cur)
            # a dirty bucket with no new dir means every row in it was
            # deleted: the old dir is retired and nothing replaces it
        shutil.rmtree(tmp, ignore_errors=True)

        gens = self._generations()
        gens.append(
            {
                "name": gen_name,
                "op": "upsert",
                "ts": round(t0, 3),
                "dirty_buckets": [int(b) for b in dirty],
                "created_buckets": created,
            }
        )
        pruned = gens[: -self.keep_generations] if len(gens) > self.keep_generations else []
        gens = gens[-self.keep_generations :]
        # commit order: manifest (with the new ledger) -> promote the
        # pending dir -> GC pruned dirs.  A crash after the manifest commit
        # rolls FORWARD (the ledger names the generation); before it, BACK.
        self._write_manifest(
            spark,
            "upsert",
            dirty,
            t0,
            extra={"last_created_buckets": created, "generations": gens},
            per_bucket=per_bucket,
            schema_str=schema_str,
        )
        # promote FIRST, then strip the intent file (see _recover_pending:
        # an intent-less .pending dir must only ever mean "crash before the
        # intent write", whose recovery is deletion)
        final_gen = os.path.join(gens_root, gen_name)
        os.rename(pending, final_gen)
        os.remove(os.path.join(final_gen, _INTENT))
        for g in pruned:
            shutil.rmtree(os.path.join(gens_root, g["name"]), ignore_errors=True)
        return {"dirty_buckets": dirty, "rewritten": len(dirty), "generation": gen_name}
