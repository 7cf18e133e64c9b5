"""Persisted dedup artifacts for the incremental-ingest family.

The 100 TB story told by ``pipeline_incremental_ingest`` and billed by
``pipeline_incremental_artifact_delta`` is: the nightly job classifies
today's batch against the corpus's PERSISTED dedup artifacts — the digest
table, the (doc_id, hb) shingle table, the band→bucket table and the SRP
bucket assignment — and history itself is never re-read or rewritten;
kept docs APPEND their artifact rows for tomorrow. In-session the
"artifacts" are localCheckpoint/persist frames with the same plan shapes;
this module is the executable witness for the parquet half of the claim
(VERDICT r10 #4):

- :func:`write_incremental_artifacts` derives the six history artifacts
  from the corpus and writes them out (the four the waterfall reads,
  plus the cross-modal pair-key table for the fourth sibling and the
  SimHash signature table for the fifth);
- :func:`incremental_status_from_artifacts` reruns the full
  exact→near→semantic waterfall reading history ONLY from those tables
  (history document text and embedding vectors are never touched — the
  batch slice is the only table data read beyond the artifacts);
- :func:`incremental_paired_from_artifacts` is the pair-modality twin:
  ``dedup_incremental_paired`` with batch keys decoded from the
  increment alone and history probed from the "pairs" artifact;
- :func:`incremental_simhash_from_artifacts` is the SimHash-modality
  twin: ``dedup_incremental_simhash`` with history probed from the
  "simhash" signature artifact alone;
- :func:`append_incremental_artifacts` computes the rows a nightly job
  appends for kept docs — for the first four artifacts by construction
  the row counts ``pipeline_incremental_artifact_delta`` reports, plus
  the kept docs' pair keys and signature rows.

Equality with the in-session path is pinned by
``tests/test_properties.py::test_incremental_artifact_round_trip``. The
candidate-restriction arguments that make the artifact path EXACT (not
approximate):

- exact stage: ``seen`` is a membership probe against the digest
  artifact — identical by definition.
- near stage: the batch's band rows are computed by the SAME
  ``minhash_band_rows`` that produced the artifact; history band rows are
  semi-joined to batch-present (band, bkey) keys, which preserves FULL
  bucket membership for every retained key, so the LSH_MAX_BUCKET cap and
  the emitted pairs match the full-corpus run for every bucket a batch
  doc is in — and every batch-touching pair lives in such a bucket.
- semantic stage: the GEMM kernel sees whole buckets; restricting the
  coded frame to batch-touched buckets leaves every emitted pair's cosine
  bit-identical, and every batch-touching pair lives in a batch-touched
  bucket.

Post-append scope: re-ingesting the SAME batch after
:func:`append_incremental_artifacts` is well-defined for the KEPT docs
(their digests are now history, so the exact stage claims them —
idempotence, pinned by the round-trip test) and the unions above stay
one-row-per-fact via distinct (batch and artifact rows for an appended
doc are bit-identical by the shared definitions).

Multi-day operation (round 12 — closes the r11 caveat): every entry
point takes a ``batch_pred`` parameter selecting the day's batch
(default: the id-parity fixture the oracles bake in; production hands
in its ingest partition's predicate), and CLASSIFICATION is decoupled
from the predicate entirely — an edge endpoint is batch iff it is a
member of today's batch slice, corpus otherwise, and since every
non-batch row in the probe unions came from an artifact file, "corpus"
IS artifact membership. Day 2 therefore works: a day-1 KEPT doc lives
in the artifacts, and a day-2 near/semantic/paired duplicate of it is
claimed vs_corpus (and a day-2 exact duplicate by the digest probe) —
under the old parity convention the day-1 doc kept batch parity
forever, its edges read batch-batch, the spine restriction dropped
them, and the day-2 doc would have scored novel. Pinned by
``tests/test_properties.py::test_incremental_artifacts_two_day_operation``.

Layout: one. Every entry point takes a :class:`BucketedArtifactStore`
— the six artifacts as managed tables bucketed+sorted by their PROBE
keys (``ARTIFACT_BUCKET_KEYS``). That is what the operator docstrings'
"bucketed digest artifact" claim refers to: probes read the
corpus-sized artifact side with no exchange (plan-pinned), appends land
at most one file per bucket, and :meth:`BucketedArtifactStore.compact`
bounds the post-append small-file pile-up back to one file per bucket
in the same spec (round-trip-pinned through a full cycle). The persisted
index families (IVF, IVF-PQ, BQ, MRL in ``similarity.py``; LM, BM25 in
``text.py``) are the same store built with their own
``<FAMILY>_STORE_ARTIFACTS`` spec, so every persisted artifact has one
backfill-first check (:meth:`BucketedArtifactStore.require`) and one
serve read (:meth:`BucketedArtifactStore.serve_tables`).

reference: no analogue — training-pipeline extension surface; the
discipline demand is this repo's own (SCALE.md round-11).
"""

from __future__ import annotations

import threading
import weakref

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from iceberg_explorer_spark.operators.dedup import parity_batch_predicate
from iceberg_explorer_spark.sources.registry import load_table

#: Process-wide store lock (re-entrant: compact's swap calls exists()
#: whose recovery re-takes it). Serializes the three operations whose
#: interleaving can lose history or throw on a half-swapped catalog:
#: append vs compact's snapshot→swap window, concurrent recoveries, and
#: reader recovery vs compact's DROP→RENAME. One lock for all stores in
#: the process — artifact maintenance is rare and coarse, and per-prefix
#: granularity would buy nothing but a chance to get the keying wrong.
_STORE_LOCK = threading.RLock()

#: the incremental-dedup artifacts, in write order. "pairs" is the
#: cross-modal (ahash, caption_fp) key table — the fourth incremental
#: sibling's history side (dedup_incremental_paired); "simhash" is the
#: (doc_id, simhash) signature table — the fifth sibling's
#: (dedup_incremental_simhash, round 13; band rows derive from it in
#: one map, so the signature table is the whole history side).
ARTIFACT_NAMES = ("digests", "shingles", "bands", "srp", "pairs", "simhash")

#: artifact -> the key every nightly PROBE joins/semi-joins it on — the
#: bucketing contract of :class:`BucketedArtifactStore`. Bucketing by
#: the probe key is what makes the operator docstrings' 100 TB claim
#: ("the digest table is a bucketed parquet artifact the batch probes
#: with no shuffle of history") executable: the corpus-sized artifact
#: side of every probe reads pre-hash-partitioned and only the
#: increment-sized batch side ever moves (plan-pinned by
#: tests/test_plans.py::test_bucketed_digest_probe_no_history_shuffle).
ARTIFACT_BUCKET_KEYS = {
    "digests": ("h",),              # exact-stage membership probe
    "shingles": ("doc_id",),        # verify joins shingle sets by doc
    "bands": ("band", "bkey"),      # batch-present bucket semi-join
    "srp": ("bucket",),             # batch-touched bucket semi-join
    "pairs": ("ahash", "caption_fp"),  # pair-key membership probe
    "simhash": ("doc_id",),         # popcount verify joins sigs by doc
}

#: Per-append provenance column every store row carries (r14 — closes
#: VERDICT r13 "What's missing #3"): ``append(..., batch_id=...)``
#: stamps its rows with the caller's batch id and FIRST probes the
#: artifact for that id — a crashed-and-retried nightly ingest replays
#: as a no-op instead of double-counting history. :meth:`~
#: BucketedArtifactStore.read` drops the column, so probe frames,
#: unions and plan pins never see it; compaction rewrites the full
#: table, so provenance survives the maintenance cycle.
_BATCH_COL = "__append_batch_id"


#: One configured serve clone per underlying SparkSession: a
#: ``spark.newSession()`` per serve would leak a cloned session's
#: JVM-side state in a long-lived serving process. WeakKeyDictionary so
#: the cache never keeps a stopped caller session alive; creation is
#: serialized (the service layer serves on concurrent threads). The
#: clone carries ONLY the scan-strategy conf — serves resolve tables by
#: DATABASE-QUALIFIED name instead of mutating the shared clone's current
#: database per call, which would race concurrent serves against stores
#: in different databases.
_SERVE_SESSIONS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_SERVE_LOCK = threading.Lock()


def _serve_session(spark: SparkSession) -> SparkSession:
    with _SERVE_LOCK:
        s = _SERVE_SESSIONS.get(spark)
        if s is None:
            s = spark.newSession()
            s.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "false",
            )
            _SERVE_SESSIONS[spark] = s
        return s


class BucketedArtifactStore:
    """The one persisted-artifact mechanism: named artifacts as
    bucketed+sorted managed tables (``{prefix}_{name}``, each bucketed
    by its probe key from the ``artifacts`` spec; default the
    incremental-dedup six of ``ARTIFACT_BUCKET_KEYS``). The index
    families build it with their own spec, e.g.
    ``BucketedArtifactStore(spark, prefix, n, artifacts=IVF_STORE_ARTIFACTS)``.

    - BACKFILL FIRST: :meth:`write` is the one-time backfill;
      :meth:`require` is the one existence check, and :meth:`append`
      runs it on its target, so no append can create a table that
      would hold only the increment;
    - SERVE: :meth:`serve_tables` is the one serve read — heal, refresh
      and read the tables on a cached clone session with forced
      bucketed scans, so probe filters bucket-prune;
    - WRITE/APPEND land pre-hash-partitioned (the writer repartitions
      by the bucket key first, so each append adds at most one file per
      bucket instead of one per write task);
    - PROBES read the artifact side with no exchange (Spark's bucketed
      scan satisfies the join/aggregate distribution; only the
      increment-sized batch side shuffles — at 100 TB that is the
      difference between re-shuffling the corpus digest table nightly
      and never moving it);
    - :meth:`compact` bounds the post-append small-file pile-up: after
      N nightly appends each bucket holds up to N files; compaction
      rewrites each artifact back to one file per bucket IN THE SAME
      bucket spec (a round-robin compaction like layout.compact_parquet
      would destroy the bucketing), via a temp table + a metadata-only
      rename.

    The Iceberg-native equivalent is a ``bucket(N, key)`` partition
    transform plus rewrite_data_files; this is the catalog-agnostic
    Spark form (same contract as sources/layout.py::bucketed_write)."""

    def __init__(
        self,
        spark: SparkSession,
        prefix: str,
        n_buckets: int = 16,
        artifacts: "dict[str, tuple[str, ...]] | None" = None,
    ) -> None:
        if not prefix.isidentifier():
            # prefixes are spliced into table names and ALTER TABLE
            # statements — reject anything that could not be a bare
            # SQL identifier rather than quote-escape our way around it
            raise ValueError(f"store prefix must be an identifier: {prefix!r}")
        self.spark = spark
        self.prefix = prefix
        self.n_buckets = n_buckets
        # ``artifacts``: name -> probe/bucket key columns. The store's
        # machinery (pre-hash-partitioned writes, probe-key bucketing,
        # spec-preserving compaction, crash recovery, the store lock)
        # is layout discipline, not dedup semantics — other families
        # bring their own spec (similarity's IVF list artifact buckets
        # by cid, the probe key of every serve-time scan). Default is
        # the incremental-dedup six, unchanged.
        self.artifacts = (
            dict(artifacts) if artifacts is not None
            else dict(ARTIFACT_BUCKET_KEYS)
        )
        for name, key in self.artifacts.items():
            # a bare string key ('cid') is the natural mistake and would
            # surface only at write time as an unresolved-column error on
            # its CHARACTERS (or silently "work" for 1-char columns) —
            # require a real column sequence up front
            if not (
                name.isidentifier()
                and isinstance(key, (tuple, list))
                and key
                and all(isinstance(c, str) and c for c in key)
            ):
                raise ValueError(
                    f"artifact spec entry {name!r} -> {key!r} must map an "
                    "identifier to a non-empty tuple of column names"
                )

    def table_name(self, name: str) -> str:
        if name not in self.artifacts:
            raise KeyError(f"unknown artifact {name!r}")
        return f"{self.prefix}_{name}"

    def _recover_interrupted_compaction(self, name: str) -> None:
        """Heal the one non-atomic window in :meth:`compact` (DROP of
        the old table before RENAME of the rewritten one): if a crash
        left the artifact missing while a complete ``__compacting``
        rewrite exists, rename it into place. Called from every entry
        point — including the write path, where a direct ``append`` on
        the crash state would otherwise CREATE a fresh table holding
        only the increment and permanently strand all history in the
        ``__compacting`` table — so an interrupted compaction can never
        read as "backfill never ran" (which would advise the operator
        to re-run the backfill in OVERWRITE mode against appended
        history that still exists). Runs under the store lock, with the
        rename double-checked and race-tolerant: a concurrent
        :meth:`compact` on another session may legitimately win the
        rename first (see the concurrency note there)."""
        with _STORE_LOCK:
            t = self.table_name(name)
            tmp = f"{t}__compacting"
            if not self.spark.catalog.tableExists(
                t
            ) and self.spark.catalog.tableExists(tmp):
                try:
                    self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {t}")
                except Exception:
                    # lost the race to another recoverer/compactor —
                    # fine iff the artifact now exists; anything else
                    # is a real failure and must surface
                    if not self.spark.catalog.tableExists(t):
                        raise

    def exists(self, name: str) -> bool:
        self._recover_interrupted_compaction(name)
        return self.spark.catalog.tableExists(self.table_name(name))

    def require(self, *names: str) -> None:
        """The backfill-first check: raise FileNotFoundError naming every
        table of ``names`` that does not exist. Appends and the index
        families' appends call it on their commit marker — an append
        onto a missing table would create one holding ONLY the
        increment, which every later read takes for the whole corpus.
        Heals an interrupted compaction first (via :meth:`exists`), so
        that crash state never reads as "backfill never ran"."""
        missing = [self.table_name(n) for n in names if not self.exists(n)]
        if missing:
            raise FileNotFoundError(
                f"artifact table(s) {missing} not found — run the "
                "one-time backfill before appending an increment"
            )

    def serve_tables(self, *names: str) -> "list[DataFrame]":
        """The serve read: the named tables on the cached serve clone of
        the store's session, whose auto bucketed-scan heuristic is off.
        Left on, the planner sees nothing downstream that needs the
        bucket distribution, plans a plain file scan and drops bucket
        PRUNING with it (the same subtlety :meth:`compact` documents).
        Each table is healed first (recovery lives on the store's entry
        points; the clone bypasses them) and refreshed — the clone
        caches file listings across serves while appends land on the
        store's session. Names are database-QUALIFIED from the store
        session's current database at call time, so concurrent serves
        against stores in different databases cannot race. The provenance
        column stays in the frames; serves select their columns."""
        s = _serve_session(self.spark)
        db = self.spark.catalog.currentDatabase()
        out = []
        for name in names:
            self._recover_interrupted_compaction(name)
            t = f"`{db}`.`{self.table_name(name)}`"
            s.catalog.refreshTable(t)
            out.append(s.table(t))
        return out

    def read(self, name: str) -> DataFrame:
        # drop the per-append provenance column: artifact consumers see
        # exactly the artifact's fact columns (unions/distinct/plan pins
        # predate the column and must stay byte-identical). Catalyst
        # prunes it from the scan, so the drop costs nothing.
        self._recover_interrupted_compaction(name)
        return self.spark.table(self.table_name(name)).drop(_BATCH_COL)

    def _write(self, name: str, df: DataFrame, mode: str, table=None):
        if table is None:
            # the real-table path heals a crashed compaction FIRST —
            # an append must land on the recovered history, never
            # create a fresh increment-only table beside it
            self._recover_interrupted_compaction(name)
        key = self.artifacts[name]
        (
            # align write tasks with the bucket hash (same Murmur3
            # HashPartitioning) so each write lands ONE file per
            # non-empty bucket — without it every write task emits its
            # own file per bucket and a single backfill already
            # produces the small-file pile-up compaction exists to fix
            df.repartition(self.n_buckets, *[F.col(c) for c in key])
            .write.mode(mode)
            .bucketBy(self.n_buckets, *key)
            .sortBy(*key)
            .saveAsTable(table or self.table_name(name))
        )
        # the frame may belong to ANOTHER session than the store's —
        # Structured Streaming's foreachBatch clone (streaming/dedup's
        # simhash twin) being the live case: saveAsTable executes in
        # the DATAFRAME's session and refreshes only THAT session's
        # file-listing cache, so without this the store session's next
        # read serves the pre-write file list (metadata-only refresh)
        self.spark.catalog.refreshTable(table or self.table_name(name))

    def _stamped(self, name: str, df: DataFrame, batch_id: "str | None"):
        if _BATCH_COL in df.columns:
            # the provenance column is the STORE's, never the caller's —
            # a caller-supplied one would let a replayed batch forge a
            # different id per retry and defeat the replay probe
            raise ValueError(
                f"artifact frame for {name!r} already carries "
                f"{_BATCH_COL!r} — the store stamps provenance itself"
            )
        return df.withColumn(_BATCH_COL, F.lit(batch_id).cast("string"))

    def write(self, name: str, df: DataFrame) -> None:
        """The one-time backfill write (overwrite). Serialized under the
        store lock for the same reason as :meth:`append`: an overwrite
        committed between compaction's snapshot read and its table swap
        would be DROPPED with the old table and silently reverted to
        the pre-write snapshot by the rename — the identical lost-update
        window, just entered from the other side. Backfill rows carry a
        NULL batch id (no nightly batch to replay-guard; an id-bearing
        append can never collide with them)."""
        with _STORE_LOCK:
            self._write(name, self._stamped(name, df, None), "overwrite")

    def append(
        self, name: str, df: DataFrame, batch_id: "str | None" = None
    ) -> bool:
        """Nightly append; Spark verifies the existing bucket spec
        matches (a mismatched n_buckets fails loudly, never silently
        de-buckets the artifact). Serialized against :meth:`compact`
        under the store lock: an append committed between compaction's
        snapshot read and its table swap would be deleted with the old
        table (plain-parquet managed tables have no optimistic commit
        protocol to merge it — the Iceberg-native form of this store
        gets that from rewrite_data_files).

        BACKFILL-FIRST: the target table must exist (:meth:`require`,
        with or without ``batch_id``) — an append-created table would
        hold ONLY the increment, and every reader would treat it as the
        whole corpus.

        ``batch_id`` is the idempotence handle: pass the ingest batch's
        stable id (e.g. the night's partition date) and a REPLAYED
        append of the same batch is a no-op — the store probes the
        artifact's provenance column for the id first and skips the
        write if any row carries it. Returns True if rows landed,
        False for a detected replay. The probe is a column-pruned
        ``limit(1)`` over the single provenance column (one artifact
        metadata+column read, no corpus-wide fact scan; the
        Iceberg-native form reads snapshot summaries instead). Residual
        honesty: a crash INSIDE the append job's commit phase can land
        a task's files with the batch id before the job completes, and
        the retry then reads as already-landed — job commit is the
        atomicity unit here (file moves are per-task), so the window is
        the commit phase itself, not the whole job; Iceberg's atomic
        snapshot commit is the form that closes it completely. Without
        ``batch_id`` the append is a non-transactional write (retries
        must re-run from the pre-append snapshot).

        EMPTY batches: an increment with no rows
        lands no provenance, so without special handling its replay
        would read as first-landed (True) forever — a silent contract
        degradation for zero-row nights. The store therefore
        short-circuits: an empty ``batch_id`` increment returns True
        WITHOUT writing (vacuously landed — there is nothing to
        double-land, so its replays returning True again is harmless
        and now the DEFINED behavior, not an accident), and the
        zero-row commit is skipped entirely. The emptiness probe is a
        ``limit(1)`` on the increment AFTER the replay probe; nightly
        callers pass checkpointed/micro-batch frames where that is a
        block read, and for an expensive uncached frame it costs at
        most the frame's first-row computation — which the write was
        about to pay anyway."""
        with _STORE_LOCK:
            self.require(name)
            if batch_id is not None:
                if (
                    self.spark.table(self.table_name(name))
                    .select(_BATCH_COL)
                    .filter(F.col(_BATCH_COL) == batch_id)
                    .limit(1)
                    .count()
                ):
                    return False  # replay of an already-landed batch
                if df.isEmpty():
                    return True  # vacuously landed; unrecorded by design
            self._write(name, self._stamped(name, df, batch_id), "append")
            return True

    def _location(self, name: str) -> str:
        rows = self.spark.sql(
            f"DESCRIBE TABLE EXTENDED {self.table_name(name)}"
        ).collect()
        return next(r["data_type"] for r in rows if r["col_name"] == "Location")

    def n_files(self, name: str) -> int:
        """Physical data-file count — the quantity compaction bounds.
        Metadata-only (a Hadoop FileSystem listing of the table
        location, any scheme): a data scan here would double
        compaction's read I/O just to report its own result. Hidden
        files are excluded by ANY path segment below the table root
        (not just the basename): a crashed in-flight write leaves
        ``_temporary/.../part-*.parquet`` staging leaves whose
        basenames look like data — counting them would permanently
        inflate the compaction-trigger metric.

        Runs ENTIRELY under the store lock — recovery alone under the
        lock is not enough: with the lock released between recovery and
        the DESCRIBE/listing, a concurrent compact's DROP→RENAME window
        would surface as TABLE_OR_VIEW_NOT_FOUND or a listing of a
        deleted directory. (The same full-read protection is impossible
        for :meth:`read`'s LAZY frame — no lock can cover its eventual
        execution; that is what the maintenance-window rule in
        :meth:`compact` is for.)"""
        with _STORE_LOCK:
            self._recover_interrupted_compaction(name)
            jvm = self.spark._jvm
            path = jvm.org.apache.hadoop.fs.Path(
                self._location(name).rstrip("/")
            )
            fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
            # qualify the root through the SAME FileSystem that lists —
            # the catalog's Location string may be unqualified (no
            # scheme/port) while listFiles returns fully qualified
            # paths, and a byte-misaligned prefix slice would silently
            # misclassify the very _temporary segments the hidden-file
            # rule exists to exclude
            root = fs.makeQualified(path).toString().rstrip("/")
            it = fs.listFiles(path, True)
            n = 0
            while it.hasNext():
                rel = it.next().getPath().toString()[len(root):].lstrip("/")
                if not any(
                    seg.startswith(("_", ".")) for seg in rel.split("/")
                ):
                    n += 1
            return n

    def compact(self) -> dict[str, int]:
        """Rewrite every artifact to one file per non-empty bucket,
        preserving the bucket spec; returns post-compaction file counts.
        Writes via a temp table then a metadata-only rename — reading and
        overwriting the same table in one job is illegal in Spark, and
        a localCheckpoint staging copy would materialize the whole
        corpus-sized artifact through the driver's block store.

        Concurrency contract: each artifact's snapshot-read → rewrite →
        swap runs under the process-wide store lock, which
        :meth:`append` also takes — an append committed between the
        snapshot and the DROP would otherwise be deleted with the old
        table (silent history loss; plain-parquet managed tables have
        no optimistic commit protocol to merge it, unlike the
        Iceberg-native rewrite_data_files form of this store). Across
        PROCESSES the lock cannot reach: schedule compaction in the
        maintenance window between nightly ingests, the same rule every
        non-transactional table rewrite lives by."""
        out: dict[str, int] = {}
        # force the BUCKETED scan for the rewrite: the optimizer elides
        # the writer's aligning repartition (the source table already
        # satisfies the hash distribution) but, left to itself, also
        # disables bucketed reading (nothing downstream "needs" it) —
        # leaving one partition per FILE, so the rewrite would emit as
        # many files as it read and compact nothing. With auto bucketed
        # scan off, the read groups every bucket's files into one
        # partition and the writer emits exactly one file per non-empty
        # bucket. The override lives on a CLONED session (shared
        # SparkContext + catalog, private conf), never the caller's:
        # the service layer plans queries on concurrent threads, and a
        # session-global flip mid-compaction would silently change
        # their scan strategies and pinned plan shapes.
        s = self.spark.newSession()
        s.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        # the clone starts in the DEFAULT database — without carrying
        # the caller's current database over, unqualified {prefix}_*
        # names resolve elsewhere, exists() returns False for every
        # artifact and compaction silently no-ops
        s.catalog.setCurrentDatabase(self.spark.catalog.currentDatabase())
        compactor = BucketedArtifactStore(
            s, self.prefix, self.n_buckets, artifacts=self.artifacts
        )
        for name in self.artifacts:
            with _STORE_LOCK:
                if not compactor.exists(name):
                    continue
                t = self.table_name(name)
                tmp = f"{t}__compacting"
                s.sql(f"DROP TABLE IF EXISTS {tmp}")
                compactor._write(name, s.table(t), "overwrite", table=tmp)
                s.sql(f"DROP TABLE {t}")
                s.sql(f"ALTER TABLE {tmp} RENAME TO {t}")
                # the rewrite happened on the clone: drop the CALLER
                # session's cached file listing for the table, or its
                # next read resolves the pre-compaction files and fails
                # with FAILED_READ_FILE on the swapped-out parquet parts
                self.spark.catalog.refreshTable(t)
                # count INSIDE the locked block (re-entrant lock): after
                # release, a waiting append may land before the count,
                # and the returned dict would misreport the compaction
                # it documents
                out[name] = self.n_files(name)
        return out

    def drop(self) -> None:
        """Test-lifecycle cleanup."""
        for name in self.artifacts:
            self.spark.sql(
                f"DROP TABLE IF EXISTS {self.table_name(name)}"
            )
            self.spark.sql(
                f"DROP TABLE IF EXISTS {self.table_name(name)}__compacting"
            )


def _all_batch(col):
    """Predicate for frames that ARE the batch by construction (the
    artifact path's slices are pre-filtered), so the shared flag helpers
    must not re-filter them by any id rule."""
    return F.lit(True)


def _artifact_frames(
    docs: DataFrame, emb: DataFrame
) -> dict[str, DataFrame]:
    """name -> artifact rows derived from a documents slice and its
    matching embeddings slice — THE single definition of what each
    artifact holds, consumed by both the backfill writer (history slice)
    and the nightly appender (kept-docs slice). Keys are asserted equal
    to ``ARTIFACT_NAMES`` so a sixth artifact cannot be added to one
    consumer and silently missed by the other."""
    from iceberg_explorer_spark.operators.dedup import (
        content_digest,
        hashed_shingles_from_docs,
        minhash_band_rows,
        simhash_signatures,
    )
    from iceberg_explorer_spark.operators.multimodal import paired_pair_keys
    from iceberg_explorer_spark.operators.similarity import _coded_vectors
    from iceberg_explorer_spark.sources.registry import (
        repartition_for_compute,
    )

    # the shingle frame feeds two artifacts (its own file and the band
    # rows) — checkpoint so the slice is tokenized once per call
    shingles = hashed_shingles_from_docs(docs).localCheckpoint(eager=True)
    frames = {
        # content_digest is the SAME expression the exact-stage probe
        # groups by (single-source rule in dedup.py) — the artifact and
        # the probe cannot desync
        "digests": docs.select(content_digest().alias("h")).distinct(),
        "shingles": shingles,
        "bands": minhash_band_rows(shingles),
        "srp": _coded_vectors(emb),
        "pairs": paired_pair_keys(repartition_for_compute(docs)),
        # the shared signature rule (simhash_signatures single-source
        # with the pair operator and its sweep) — band rows are NOT
        # persisted for this modality: they derive from the 8-byte
        # signature in one literal-shift map, so the signature table is
        # the whole history side of dedup_incremental_simhash
        "simhash": simhash_signatures(docs),
    }
    if tuple(frames) != ARTIFACT_NAMES:  # not assert: survives python -O
        raise RuntimeError(
            f"artifact frames {tuple(frames)} out of lockstep with "
            f"ARTIFACT_NAMES {ARTIFACT_NAMES}"
        )
    return frames


def write_incremental_artifacts(
    spark: SparkSession,
    sf_dir: str,
    store: BucketedArtifactStore,
    batch_pred=parity_batch_predicate,
) -> dict[str, int]:
    """Derive the six history artifacts (``ARTIFACT_NAMES``) from the
    corpus at ``sf_dir`` and write them to ``store``; returns row
    counts per artifact. This is the one-time backfill a production
    pipeline runs ONCE — every nightly ingest after it reads these
    tables and appends to them. History is everything ``batch_pred``
    does NOT select (default: the id-parity fixture)."""
    from iceberg_explorer_spark.operators.similarity import _load_emb

    frames = _artifact_frames(
        load_table(spark, sf_dir, "documents").filter(
            ~batch_pred(F.col("doc_id"))
        ),
        _load_emb(spark, sf_dir).filter(~batch_pred(F.col("vec_id"))),
    )
    counts: dict[str, int] = {}
    for name, df in frames.items():
        store.write(name, df)
        counts[name] = store.read(name).count()
    return counts


def incremental_status_from_artifacts(
    spark: SparkSession,
    sf_dir: str,
    store: BucketedArtifactStore,
    batch_pred=parity_batch_predicate,
) -> DataFrame:
    """(doc_id, source, stage) for every batch doc — the SAME waterfall as
    ``pipeline.incremental_status`` (shared assembly tail, shared stage
    definitions) with history read ONLY from the artifacts in
    ``store``. The only non-artifact reads are the batch slices of
    documents/embeddings; per-ingest cost is O(batch + artifact probes),
    never a corpus re-scan.

    ``batch_pred`` selects today's batch (default: the id-parity
    fixture). Unlike the in-session operators, CLASSIFICATION here never
    uses the predicate beyond slicing the batch: an edge endpoint is
    batch iff it is a MEMBER of the batch slice, and corpus otherwise —
    and every non-batch row in the unions comes from an artifact file,
    so "corpus" IS artifact membership. That is the production rule the
    old parity convention could not express: on day 2, a day-1 KEPT doc
    lives in the artifacts and an edge to it must read as corpus
    contact, but under parity it kept its batch parity forever (the
    edge read batch-batch, the spine restriction dropped it, and a
    day-2 near-dup of corpus content would have been scored novel).
    Pinned by the two-day test."""
    from iceberg_explorer_spark.operators.dedup import (
        INCR_NEAR_TAU,
        endpoint_member_flags,
        hashed_shingles_from_docs,
        incremental_exact_flags,
        jaccard_verify,
        minhash_band_rows,
        pairs_from_band_rows,
    )
    from iceberg_explorer_spark.operators.pipeline import (
        assemble_incremental_status,
    )
    from iceberg_explorer_spark.operators.similarity import (
        NEAR_DUP_TAU,
        _bucket_pairs_gemm_coded,
        _coded_vectors,
        _load_emb,
    )

    batch_docs = load_table(spark, sf_dir, "documents").filter(
        batch_pred(F.col("doc_id"))
    )
    # the embeddings batch slice feeds THREE branches (the membership
    # frame, the SRP coding, emb_ids) — one eager checkpoint
    emb_batch = _load_emb(spark, sf_dir).filter(
        batch_pred(F.col("vec_id"))
    ).localCheckpoint(eager=True)
    # the batch MEMBER frame drives every classification decision below
    # (edge endpoints, candidate touching): document ids UNION batch
    # embedding ids — an ORPHAN batch embedding (a vec in today's slice
    # whose document row is absent) is still a batch member, exactly as
    # the in-session parity rule treats it; classifying it as corpus
    # would wrongly taint its neighbors as already-represented content
    # (caught by this round's review pass; regression-pinned by the
    # orphan vec in the round-trip corpus). One checkpoint, many
    # broadcasts.
    batch_members = (
        batch_docs.select("doc_id")
        .unionByName(emb_batch.select(F.col("vec_id").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _touching(pairs: DataFrame, ca: str, cb: str) -> DataFrame:
        """pairs with at least one endpoint IN the batch — membership
        (the shared endpoint_member_flags idiom), never an id rule."""
        return (
            endpoint_member_flags(pairs, batch_members, ca, cb)
            .filter(
                F.col("__incr_a").isNotNull() | F.col("__incr_b").isNotNull()
            )
            .select(ca, cb)
        )

    # exact: probe the digest artifact — history text never read. The
    # slice IS the batch, so the flag helper must not re-filter by any
    # id rule (_all_batch)
    flags = incremental_exact_flags(
        batch_docs, history_digests=store.read("digests"), batch_pred=_all_batch
    ).localCheckpoint(eager=True)

    # near: tokenize ONLY the batch; history shingles/bands are files.
    # The batch shingle table feeds two branches (its own band rows and
    # the verify's shingle union) — checkpoint the increment-sized frame
    sh_batch = hashed_shingles_from_docs(batch_docs).localCheckpoint(
        eager=True
    )
    bands_batch = minhash_band_rows(sh_batch)
    # semi-join history band rows to batch-present keys: FULL bucket
    # membership is preserved for every retained key, so the
    # LSH_MAX_BUCKET cap and the emitted pairs match the full-corpus run
    # wherever a batch doc is involved (module docstring)
    bkeys = bands_batch.select("band", "bkey").distinct()
    # .distinct() on both unions: after append_incremental_artifacts has
    # run, the artifact files CONTAIN the kept batch docs' rows, so a
    # re-ingest of the same batch would otherwise see those rows TWICE —
    # double-sized shingle sets dilute every verified Jaccard against an
    # appended doc, duplicate band rows emit self-pairs and push buckets
    # over the LSH_MAX_BUCKET cap (silently dropping real candidates).
    # Batch and artifact rows for the same doc are bit-identical by the
    # shared definitions, so distinct restores exactly the
    # one-row-per-fact tables every downstream stage documents.
    touched_bands = (
        store.read("bands")
        .join(bkeys, ["band", "bkey"], "left_semi")
        .unionByName(bands_batch)
        .distinct()
    )
    cands = pairs_from_band_rows(touched_bands).select("doc_a", "doc_b")
    bc = _touching(cands, "doc_a", "doc_b")
    sh_union = store.read("shingles").unionByName(sh_batch).distinct()
    be = (
        jaccard_verify(bc, sh_union, threshold=INCR_NEAR_TAU)
        .select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
        .localCheckpoint(eager=True)
    )

    # semantic: batch vectors SRP-coded fresh by the SAME expression that
    # produced the artifact; the GEMM kernel runs over whole batch-touched
    # buckets so every pair's cosine is bit-identical to the corpus run
    coded_batch = _coded_vectors(emb_batch)
    # dropDuplicates on vec_id for the same post-append reason as the
    # near-stage unions (vec_id determines the vector and its bucket, so
    # one row per id is the whole fact); a duplicated id inside a GEMM
    # bucket would otherwise emit a cos=1.0 self-edge per re-ingest
    touched_srp = (
        store.read("srp")
        .join(coded_batch.select("bucket").distinct(), "bucket", "left_semi")
        .unionByName(coded_batch)
        .dropDuplicates(["vec_id"])
    )
    be2 = (
        _touching(
            _bucket_pairs_gemm_coded(touched_srp)
            .select(
                F.col("vec_a").alias("id_a"),
                F.col("vec_b").alias("id_b"),
                F.round("cos_sim", 6).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= NEAR_DUP_TAU)
            .select("id_a", "id_b"),
            "id_a",
            "id_b",
        )
        # the CC loop inside the classification tail consumes the edge
        # frame once per propagation round — materialize it, or every
        # round re-runs the per-bucket GEMM and the parquet reads (the
        # in-session twin reads the session-checkpointed semantic edges)
        .localCheckpoint(eager=True)
    )
    emb_ids = emb_batch.select(F.col("vec_id").alias("doc_id"))
    return assemble_incremental_status(
        flags,
        be,
        be2,
        emb_ids,
        # already .distinct().localCheckpoint()'d above: one
        # materialization for the whole waterfall, not one per cls call
        batch_members=batch_members,
    )


def incremental_paired_from_artifacts(
    spark: SparkSession,
    sf_dir: str,
    store: BucketedArtifactStore,
    batch_pred=parity_batch_predicate,
) -> DataFrame:
    """``dedup_incremental_paired``'s report with history read ONLY from
    the persisted pair-key artifact — the fourth sibling's file-probed
    twin: batch pair keys are decoded from the batch slice alone (the
    ONE decode kernel runs over the increment, never history), the
    history side is the (ahash, caption_fp) projection of the "pairs"
    artifact, and the classification + report tails are the SAME shared
    definitions (incremental_seen_canon_flags,
    paired_incremental_report)."""
    from iceberg_explorer_spark.operators.dedup import (
        incremental_seen_canon_flags,
    )
    from iceberg_explorer_spark.operators.multimodal import (
        paired_incremental_report,
        paired_pair_keys,
    )
    from iceberg_explorer_spark.sources.registry import (
        repartition_for_compute,
    )

    batch_docs = load_table(spark, sf_dir, "documents").filter(
        batch_pred(F.col("doc_id"))
    )
    # increment-sized decode; checkpointed because the flags helper
    # reads the key frame from TWO branches here (batch rows and the
    # batch key-min — history comes from the artifact, unlike the
    # in-session builder's three-branch fan-out), and each un-
    # materialized branch would re-run the decode kernel
    batch_keys = paired_pair_keys(
        repartition_for_compute(batch_docs)
    ).localCheckpoint(eager=True)
    hist_keys = store.read("pairs").select("ahash", "caption_fp")
    # the key frame IS the batch (sliced above) — no id rule in the
    # shared flags helper
    flags = incremental_seen_canon_flags(
        batch_keys,
        ["ahash", "caption_fp"],
        history_keys=hist_keys,
        batch_pred=_all_batch,
    )
    return paired_incremental_report(flags)


def simhash_cls_from_history(
    batch_docs: DataFrame, hist: DataFrame
) -> DataFrame:
    """(doc_id, source, vs_corpus, in_batch) classification of an
    increment against a (doc_id, simhash) history signature frame — THE
    SimHash incremental rule with the day's documents handed in as a
    frame. Factored out of :func:`incremental_simhash_from_artifacts`
    (r14) so the nightly artifact path and the streaming twin
    (``streaming/dedup.streaming_simhash_dedup``, whose foreachBatch
    hands each micro-batch here) share ONE definition of the rule and
    cannot desync; the artifact path remains slicing + this + the
    shared report tail.

    Batch signatures are computed by the SAME shared
    ``simhash_signatures`` that produced the artifact; the history side
    is the (doc_id, simhash) frame alone, whose band rows derive in one
    literal-shift map (8-byte rows — the one per-ingest O(|history
    signatures|) map this modality pays instead of persisting a
    4x-larger band table). The same exactness argument as the MinHash
    stage applies verbatim: semi-joining history band rows to
    batch-present (band, bkey) keys preserves FULL bucket membership
    for every retained key, so the SIMHASH_MAX_BUCKET cap and the
    emitted pairs match the full-corpus run wherever a batch doc is
    involved — and every batch-touching pair lives in such a bucket.
    Post-append idempotence: appended kept docs' signature rows are
    bit-identical to their batch recomputation (shared definition), so
    the unions' distinct restores one-row-per-fact. Classification is
    by MEMBERSHIP (corpus = history-frame membership), the same
    production rule as the waterfall path."""
    from iceberg_explorer_spark.operators.dedup import (
        SIMHASH_HAM_MAX,
        SIMHASH_MAX_BUCKET,
        endpoint_member_flags,
        incremental_component_cls,
        pairs_from_band_rows,
        simhash_band_rows,
        simhash_signatures,
    )

    batch = (
        batch_docs.select("doc_id", "source").localCheckpoint(eager=True)
    )
    # the batch signature frame feeds THREE branches (band rows, the
    # verify union, the post-append distinct) — one checkpoint
    sig_batch = simhash_signatures(batch_docs).localCheckpoint(eager=True)
    bands_batch = simhash_band_rows(sig_batch)
    bkeys = bands_batch.select("band", "bkey").distinct()
    touched_bands = (
        simhash_band_rows(hist)
        .join(bkeys, ["band", "bkey"], "left_semi")
        .unionByName(bands_batch)
        .distinct()
    )
    cands = pairs_from_band_rows(
        touched_bands, max_bucket=SIMHASH_MAX_BUCKET
    ).select("doc_a", "doc_b")
    members = batch.select("doc_id")
    bc = (
        endpoint_member_flags(cands, members, "doc_a", "doc_b")
        .filter(
            F.col("__incr_a").isNotNull() | F.col("__incr_b").isNotNull()
        )
        .select("doc_a", "doc_b")
    )
    sig_union = hist.unionByName(sig_batch).distinct()
    sa = sig_union.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a")
    )
    sb = sig_union.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b")
    )
    be = (
        bc.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.expr(f"bit_count(sig_a ^ sig_b) <= {SIMHASH_HAM_MAX}"))
        .select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
        # the shared tail's CC loop re-reads the edge frame per round
        .localCheckpoint(eager=True)
    )
    return incremental_component_cls(be, batch, batch_members=members)


def incremental_simhash_from_artifacts(
    spark: SparkSession,
    sf_dir: str,
    store: BucketedArtifactStore,
    batch_pred=parity_batch_predicate,
) -> DataFrame:
    """``dedup_incremental_simhash``'s report with history read ONLY
    from the persisted signature artifact — the fifth sibling's
    file-probed twin (round 13). Since r14 this is slicing + the
    factored :func:`simhash_cls_from_history` (the one definition of
    the rule, shared with the streaming twin) + the shared report
    tail."""
    from iceberg_explorer_spark.operators.dedup import (
        component_cls_report,
    )

    batch_docs = load_table(spark, sf_dir, "documents").filter(
        batch_pred(F.col("doc_id"))
    )
    return component_cls_report(
        simhash_cls_from_history(batch_docs, store.read("simhash")), "simdup"
    )


def append_incremental_artifacts(
    spark: SparkSession,
    sf_dir: str,
    store: BucketedArtifactStore,
    status: DataFrame,
    batch_pred=parity_batch_predicate,
    batch_id: "str | None" = None,
) -> dict[str, int]:
    """Append the kept batch docs' artifact rows to ``store``.
    The first four artifacts are exactly the write side
    ``pipeline_incremental_artifact_delta`` bills: one digest row per
    kept doc, its distinct (doc_id, hb) shingle rows, N_BANDS band rows
    per kept doc that has shingles, one SRP-assignment row per kept doc
    with a valid embedding. The fifth — "pairs", one (ahash, caption_fp)
    key row per kept doc in the pair-key domain — is the paired
    sibling's history side, billed by the FOUR-stage delta
    (pipeline_incremental_artifact_delta_v2's n_pair_rows; that
    report's keep-list is the four-stage waterfall's, while this
    function appends for whatever ``status`` it is given) and
    reconciled by the paired round-trip test. The sixth — "simhash",
    one (doc_id, simhash) signature row per kept doc — is the SimHash
    sibling's history side; it is deliberately billed by NO delta
    report (the v1/v2 delta operators are frozen benchmark trend
    members and must not grow columns mid-trend) and is reconciled by
    the simhash crafted two-day test instead.
    Returns appended row counts per artifact, counted from the
    increment frames THEMSELVES (batch-sized, checkpointed so count
    and write share one execution) — never by re-scanning the grown
    artifact tables: per-ingest cost stays O(batch + artifact probes),
    and a concurrent writer cannot corrupt the bill. The proof that the
    append physically landed lives where verification belongs, in the
    round-trip tests' before/after row counts. History rows are never
    rewritten.

    ``batch_id``: the night's stable ingest id, handed to
    :meth:`BucketedArtifactStore.append` per artifact — a RETRIED
    nightly run replays each already-landed artifact as a no-op (its
    count reports 0) and lands only the ones the crashed run missed, so
    a crash between the six appends heals on replay instead of
    double-counting the landed prefix. All six tables must exist
    (:func:`write_incremental_artifacts` first)."""
    from iceberg_explorer_spark.operators.similarity import _load_emb

    store.require(*ARTIFACT_NAMES)
    kept = status.filter(F.col("stage") == "kept").select("doc_id")
    frames = _artifact_frames(
        load_table(spark, sf_dir, "documents")
        .filter(batch_pred(F.col("doc_id")))
        .join(kept, "doc_id"),
        _load_emb(spark, sf_dir)
        .filter(batch_pred(F.col("vec_id")))
        .join(kept.select(F.col("doc_id").alias("vec_id")), "vec_id"),
    )
    appended: dict[str, int] = {}
    for name, df in frames.items():
        # count + write must not re-run the producing pipeline (the
        # pairs frame's decode kernel in particular) — checkpoint the
        # batch-sized increment once and serve both from the blocks
        df = df.localCheckpoint(eager=True)
        appended[name] = df.count()
        if not store.append(name, df, batch_id=batch_id):
            appended[name] = 0  # replayed batch: nothing landed
    return appended
