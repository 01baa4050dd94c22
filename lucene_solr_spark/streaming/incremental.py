"""Incremental / near-real-time indexing — Structured Streaming analogue
of Lucene's NRT machinery (SURVEY.md §2.10).

Reference mapping:
  - NRT segment flush (IndexWriter.getReader / NRTManager,
    lucene/core/.../search/NRTManager.java): each micro-batch becomes an
    immutable delta segment of flat postings + docs under
    ``index_dir/segments/seg=<batch_id>/``.
  - docBase (AtomicReaderContext.java:30-42): the manifest records
    ``next_doc_id``; a batch's docs get globally dense IDs
    offset + local id, so batch and streaming builds agree.
  - UpdateLog replay / exactly-once (solr/core/.../update/UpdateLog.java:
    56-108): ``process_batch`` is idempotent — a replayed batch_id is
    skipped, so Structured Streaming checkpoint recovery gives
    exactly-once index contents.
  - soft commit vs hard commit (solr/core/.../update/CommitTracker.java):
    micro-batch trigger interval = visibility cadence; the two-phase
    manifest rename = durability point.
  - TieredMergePolicy background merges (lucene/core/.../index/
    TieredMergePolicy.java:76-83): ``compact()`` unions small delta
    segments into one (merge-on-read -> merge-on-write compaction).

Query side: ``reader()`` returns a StreamingIndexReader over base +
un-compacted deltas. It is a one-split index that speaks the segment
store's split read protocol (index/segments.py SplitIndex) over the
flat postings: per-term split metadata memoized on the driver (one
aggregate job per cold term set, from the raw pre-tombstone postings),
term statistics summed from it, and postings fetches that are read
from parquet on the driver when bounded and stay a lazy Catalyst filter
otherwise, with tombstones, read once per reader, dropped either way.
So ``Searcher`` routes its queries through the split walk
(search/wand.py): a warm bounded query runs no Spark job; it is read
and finished on the driver. The on-disk layout is still flat postings
per delta.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from ..functions.literals import sql_in
from ..index.builder import (
    POSTINGS_FLAT_SCHEMA,
    CollectionStats,
    _invert_partitions,
)
from ..index.docids import assign_doc_ids
from ..index.segments import (
    SPLIT_META_COLUMNS,
    DriverParquet,
    SplitIndex,
    _empty_decoded,
    _write_docs,
)

MANIFEST = "streaming_manifest.json"

VERSION_FIELD = "_version_"


class VersionConflict(Exception):
    """Optimistic-concurrency failure — the Solr 409 CONFLICT analogue
    (DistributedUpdateProcessor.versionAdd,
    solr/core/src/java/org/apache/solr/update/processor/
    DistributedUpdateProcessor.java:500-512)."""


def _commit(index_dir: str, manifest: dict) -> None:
    tmp = os.path.join(index_dir, MANIFEST + ".tmp")
    final = os.path.join(index_dir, MANIFEST)
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, final)


def _read(index_dir: str) -> dict:
    path = os.path.join(index_dir, MANIFEST)
    if not os.path.exists(path):
        return {
            "generation": 0,
            "next_doc_id": 0,
            "n_docs": 0,
            "sum_total_term_freq": 0,
            "segments": {},
            "deletes": [],
        }
    with open(path) as f:
        man = json.load(f)
    man.setdefault("deletes", [])
    man.setdefault("n_docs", man["next_doc_id"])
    return man


class IncrementalIndexWriter:
    """foreachBatch sink: append-only delta segments with dense docIDs."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        order_cols: tuple[str, str] = ("conv_id", "turn_idx"),
        text_col: str = "text",
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.order_cols = list(order_cols)
        self.text_col = text_col
        os.makedirs(index_dir, exist_ok=True)

    # -- sink --------------------------------------------------------------

    @staticmethod
    def _write_postings(postings: DataFrame, path: str) -> int:
        """Write flat postings to ``path`` and return their Σ tf, summed
        DURING the write job (an Observation): no read-back pass."""
        obs = Observation()
        (
            postings.observe(obs, F.sum("tf").alias("sttf"))
            .write.mode("overwrite")
            .parquet(path)
        )
        return int(obs.get["sttf"] or 0)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Index one micro-batch as a delta segment. Its doc count and
        Σ tf are counted by the two write jobs themselves."""
        man = _read(self.index_dir)
        key = str(batch_id)
        if key in man["segments"]:
            return  # checkpoint replay -> exactly-once
        docs = assign_doc_ids(batch_df, self.order_cols, "local_id")
        offset = int(man["next_doc_id"])
        docs = docs.withColumn(
            "doc_id", (F.col("local_id") + F.lit(offset)).cast("long")
        ).drop("local_id")
        docs = docs.persist()

        n_docs = _write_docs(docs, f"{self.index_dir}/docs/seg={key}")
        flat = docs.select(
            F.col("doc_id"),
            F.col(self.text_col).cast("string").alias("text"),
        ).mapInPandas(_invert_partitions, POSTINGS_FLAT_SCHEMA)
        sttf = self._write_postings(
            flat, f"{self.index_dir}/postings/seg={key}"
        )
        docs.unpersist()

        man["segments"][key] = {
            "doc_base": offset,
            "max_doc": n_docs,
            "sum_total_term_freq": sttf,
        }
        man["next_doc_id"] = offset + n_docs
        man["n_docs"] = man.get("n_docs", 0) + n_docs
        man["sum_total_term_freq"] += sttf
        man["generation"] += 1
        _commit(self.index_dir, man)

    # -- deletes / updates ---------------------------------------------------

    def delete_by_keys(
        self, keys_df: DataFrame, key_col: str = "uid"
    ) -> int:
        """Delete documents whose ``key_col`` value appears in
        ``keys_df`` — the deleteByTerm path (lucene/core/.../index/
        BufferedDeletesStream.java; Solr delete-by-uniqueKey,
        S/update/DirectUpdateHandler2.java). Deletes are TOMBSTONES
        (per-generation doc_id parquet — the .del BitVector analogue,
        lucene/core/.../codecs/lucene40/BitVector.java): every reader
        filters matches through the live-docs anti-join immediately;
        postings are purged physically at the next compaction, exactly
        Lucene's merge-time delete reclamation. Returns the number of
        newly deleted docs."""
        man = _read(self.index_dir)
        reader = self.reader()  # live view: excludes prior tombstones
        ids = reader.docs.join(
            F.broadcast(keys_df.select(key_col).distinct()),
            key_col,
            "left_semi",
        ).select("doc_id")
        gen = man["generation"]
        path = f"{self.index_dir}/deletes/del={gen}"
        ids.write.mode("overwrite").parquet(path)
        n = self.spark.read.parquet(path).count()
        man["deletes"].append(str(gen))
        man["n_docs"] = man.get("n_docs", man["next_doc_id"]) - int(n)
        man["generation"] += 1
        _commit(self.index_dir, man)
        return int(n)

    def update_documents(
        self,
        batch_df: DataFrame,
        batch_id: int,
        key_col: str = "uid",
    ) -> None:
        """Overwrite-by-uniqueKey update (DirectUpdateHandler2.addDoc
        with overwrite=true): atomically delete any live doc holding the
        same key, then add the new version as a delta segment with a
        fresh docID — Lucene updateDocument semantics (the old internal
        docID dies, the new doc gets the next one)."""
        man = _read(self.index_dir)
        if str(batch_id) in man["segments"]:
            return  # checkpoint replay
        if man["segments"]:
            self.delete_by_keys(batch_df.select(key_col), key_col)
        self.process_batch(batch_df, batch_id)

    # -- optimistic concurrency + atomic updates ---------------------------

    def _found_versions(self, keys_df: DataFrame, key_col: str) -> DataFrame:
        """(key, __found) for live docs holding the keys; missing keys
        are absent (callers coalesce to -1, VersionInfo.lookupVersion
        returning null)."""
        cur = self.reader().docs
        vexpr = (
            F.col(VERSION_FIELD).cast("long")
            if VERSION_FIELD in cur.columns
            else F.lit(1).cast("long")
        )
        return cur.join(
            F.broadcast(keys_df.select(key_col).distinct()),
            key_col,
            "left_semi",
        ).select(key_col, vexpr.alias("__found"))

    def add_versioned(
        self,
        batch_df: DataFrame,
        batch_id: int,
        key_col: str = "uid",
        on_conflict: str = "fail",
    ) -> int:
        """Overwrite-by-uniqueKey add with optimistic concurrency —
        versionAdd leader logic (DistributedUpdateProcessor.java:444-520):
        a row's ``_version_`` is its versionOnUpdate; the add is legal
        when versionOnUpdate == 0 (no check), == foundVersion (exact
        match), < 0 with the doc absent (must-not-exist), or == 1 with
        the doc present (must-exist). Anything else is a conflict:
        ``on_conflict='fail'`` raises :class:`VersionConflict` (the 409
        path), ``'skip'`` drops the conflicting rows and applies the
        rest. Accepted docs are stamped with one new version from the
        manifest's monotone version clock (getNewClock analogue —
        deterministic instead of wall-clock so replays agree) and go
        through the delete-then-add update path. Returns the number of
        rows applied.

        Distribution shape: ONE broadcast semi-join computes found
        versions; the conflict filter is a Catalyst predicate; no
        per-row driver work."""
        if on_conflict not in ("fail", "skip"):
            raise ValueError("on_conflict must be 'fail' or 'skip'")
        man = _read(self.index_dir)
        if str(batch_id) in man["segments"]:
            return 0  # checkpoint replay
        has_v = VERSION_FIELD in batch_df.columns
        vcol = (
            F.coalesce(F.col(VERSION_FIELD).cast("long"), F.lit(0))
            if has_v
            else F.lit(0).cast("long")
        )
        checked = batch_df.withColumn("__v", vcol)
        if man["segments"]:
            found = self._found_versions(
                checked.select(key_col), key_col
            )
            checked = checked.join(found, key_col, "left")
        else:
            checked = checked.withColumn(
                "__found", F.lit(None).cast("long")
            )
        checked = checked.withColumn(
            "__found", F.coalesce(F.col("__found"), F.lit(-1))
        )
        ok = (
            (F.col("__v") == 0)
            | (F.col("__v") == F.col("__found"))
            | ((F.col("__v") < 0) & (F.col("__found") < 0))
            | ((F.col("__v") == 1) & (F.col("__found") > 0))
        )
        checked = checked.persist()
        try:
            n_conf = checked.where(~ok).count()
            if n_conf and on_conflict == "fail":
                sample = [
                    (r[key_col], int(r["__v"]), int(r["__found"]))
                    for r in checked.where(~ok).limit(5).collect()
                ]
                raise VersionConflict(
                    f"{n_conf} version conflict(s); first (key, "
                    f"expected, actual): {sample}"
                )
            accepted = checked.where(ok).drop("__v", "__found")
            n_acc = accepted.count()
            if n_acc == 0:
                return 0
            new_version = int(man.get("version_clock", 0)) + 1
            stamped = accepted.withColumn(
                VERSION_FIELD, F.lit(new_version).cast("long")
            )
            self.update_documents(stamped, batch_id, key_col)
        finally:
            checked.unpersist()
        man2 = _read(self.index_dir)
        man2["version_clock"] = new_version
        _commit(self.index_dir, man2)
        return int(n_acc)

    def atomic_update(
        self,
        updates_df: DataFrame,
        batch_id: int,
        modifiers: dict[str, str],
        key_col: str = "uid",
        on_conflict: str = "fail",
    ) -> int:
        """Atomic (partial) document update — getUpdatedDocument
        (DistributedUpdateProcessor.java:573-660): fetch the current
        stored doc by uniqueKey (the RealTimeGetComponent view), apply
        per-field modifiers, then run the result through the versioned
        overwrite path. ``modifiers`` maps column -> op:

          - ``'set'``: replace the stored value with the update's
          - ``'inc'``: numeric add; a doc without the field gets the
            increment as the initial value (:616-620)
          - ``'add'``: append to a multiValued (array) field

        Update columns without a modifier entry are 'set'. A key with
        no live doc creates a new document when its versionOnUpdate
        <= 0 and conflicts otherwise (:588-595); stored fields absent
        from the update are carried over unchanged.

        Distribution shape: ONE join of the update batch against the
        live doc view (AQE broadcasts the small side), all modifier
        arithmetic in Catalyst; then the add_versioned machinery."""
        for c, op in modifiers.items():
            if op not in ("set", "inc", "add"):
                raise ValueError(f"unknown modifier {op!r} for {c!r}")
            if c not in updates_df.columns:
                raise ValueError(f"modifier column {c!r} not in updates")
        man = _read(self.index_dir)
        if str(batch_id) in man["segments"]:
            return 0  # checkpoint replay
        cur = self.reader().docs.drop("doc_id")
        upd_cols = [c for c in updates_df.columns if c != key_col]
        cur_cols = [c for c in cur.columns if c != key_col]
        u = updates_df.alias("u")
        c_ = cur.alias("c")
        joined = u.join(c_, F.col(f"u.{key_col}") == F.col(f"c.{key_col}"), "left")
        exists = F.col(f"c.{key_col}").isNotNull()
        out_cols = [F.col(f"u.{key_col}").alias(key_col)]
        seen = {key_col}
        for col in cur_cols:
            if col == VERSION_FIELD:
                continue  # re-stamped by add_versioned
            seen.add(col)
            cv = F.col(f"c.{col}")
            if col in upd_cols:
                uv = F.col(f"u.{col}")
                op = modifiers.get(col, "set")
                if op == "set":
                    merged = uv
                elif op == "inc":
                    merged = F.when(
                        exists & cv.isNotNull(), cv + uv
                    ).otherwise(uv)
                else:  # add: append to array field
                    merged = F.when(
                        exists & cv.isNotNull(),
                        F.concat(cv, F.array(uv)),
                    ).otherwise(F.array(uv))
            else:
                merged = cv
            out_cols.append(merged.alias(col))
        for col in upd_cols:
            if col in seen or col == VERSION_FIELD:
                continue
            out_cols.append(F.col(f"u.{col}").alias(col))
        if VERSION_FIELD in updates_df.columns:
            out_cols.append(
                F.col(f"u.{VERSION_FIELD}").alias(VERSION_FIELD)
            )
        merged_df = joined.select(*out_cols)
        return self.add_versioned(
            merged_df, batch_id, key_col, on_conflict
        )

    def add_with_signature_dedup(
        self,
        batch_df: DataFrame,
        batch_id: int,
        text_col: str | None = None,
        overwrite_dupes: bool = True,
    ) -> None:
        """Ingest-time content dedup (SignatureUpdateProcessorFactory,
        solr/core/src/java/org/apache/solr/update/processor/
        SignatureUpdateProcessorFactory.java): compute a content
        signature per doc (md5 over sorted distinct analyzed tokens —
        the Lookup3/MD5Signature analogue) into ``fingerprint`` and use
        it as the dedup key. ``overwrite_dupes=True`` mirrors
        overwriteDupes: the signature acts as the uniqueKey — docs in
        this batch delete any LIVE doc carrying the same signature, and
        within the batch the last doc in ingestion order (order_cols)
        wins, exactly Solr's sequential per-doc overwrite. With
        ``False`` the signature field is stored but nothing is deleted
        (Solr leaves dedup to a signature-valued uniqueKey downstream).

        Distribution: the signature is one Catalyst projection; the
        within-batch last-wins is a window over the signature (one
        shuffle on the dedup key, same shape as exact dedup)."""
        from pyspark.sql import Window

        from ..functions.text_analysis import with_fingerprint

        sig = with_fingerprint(batch_df, text_col or self.text_col)
        if not overwrite_dupes:
            self.process_batch(sig, batch_id)
            return
        w = Window.partitionBy("fingerprint").orderBy(
            *[F.desc(c) for c in self.order_cols]
        )
        last = (
            sig.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        self.update_documents(last, batch_id, key_col="fingerprint")

    def foreach_batch(self):
        """Bind for ``writeStream.foreachBatch(...)``."""

        def fn(batch_df: DataFrame, batch_id: int) -> None:
            self.process_batch(batch_df, batch_id)

        return fn

    # -- merge-on-write compaction ----------------------------------------

    def compact(self, min_segments: int = 2) -> bool:
        """Union all delta segments into one (segment merge analogue),
        PURGING tombstoned docs physically (merge-time delete
        reclamation, lucene/core/.../index/SegmentMerger.java skipping
        deleted docs via liveDocs) and refreshing collection stats from
        the surviving postings (counted by the two write jobs) — after a
        merge, df/sumTTF/N no longer count deleted docs, exactly the
        reference's behavior.
        Returns True if a merge happened. Crash-safe: the merged segment
        is fully written before the manifest swap; old dirs are removed
        after commit (dead segments, like un-referenced .si files)."""
        man = _read(self.index_dir)
        segs = sorted(
            man["segments"], key=lambda s: man["segments"][s]["doc_base"]
        )
        has_deletes = bool(man["deletes"])
        if len(segs) < min_segments and not has_deletes:
            return False
        gen = man["generation"]
        merged_key = f"m{gen}"
        post = self.spark.read.parquet(
            *[f"{self.index_dir}/postings/seg={s}" for s in segs]
        )
        docs = self.spark.read.parquet(
            *[f"{self.index_dir}/docs/seg={s}" for s in segs]
        )
        if has_deletes:
            tomb = self.spark.read.parquet(
                *[
                    f"{self.index_dir}/deletes/del={d}"
                    for d in man["deletes"]
                ]
            ).select("doc_id").distinct()
            post = post.join(F.broadcast(tomb), "doc_id", "left_anti")
            docs = docs.join(F.broadcast(tomb), "doc_id", "left_anti")
        sttf = self._write_postings(
            post, f"{self.index_dir}/postings/seg={merged_key}"
        )
        n_docs = _write_docs(docs, f"{self.index_dir}/docs/seg={merged_key}")
        man["segments"] = {
            merged_key: {
                "doc_base": 0,
                "max_doc": n_docs,
                "sum_total_term_freq": sttf,
            }
        }
        man["n_docs"] = n_docs
        man["sum_total_term_freq"] = sttf
        old_deletes = man["deletes"]
        man["deletes"] = []
        man["generation"] = gen + 1
        _commit(self.index_dir, man)
        import shutil

        for s in segs:
            shutil.rmtree(f"{self.index_dir}/postings/seg={s}", True)
            shutil.rmtree(f"{self.index_dir}/docs/seg={s}", True)
        for d in old_deletes:
            shutil.rmtree(f"{self.index_dir}/deletes/del={d}", True)
        return True

    # -- reader ------------------------------------------------------------

    def reader(self) -> "StreamingIndexReader":
        return StreamingIndexReader(self.spark, self.index_dir)


def _decoded(postings: DataFrame, want_positions: bool) -> DataFrame:
    """Flat postings rows as DECODED_SCHEMA columns (positions null
    unless wanted)."""
    positions = (
        F.col("positions")
        if want_positions
        else F.lit(None).cast("array<int>").alias("positions")
    )
    return postings.select("term", "doc_id", "tf", positions, "norm_byte")


@dataclass
class StreamingIndexReader(SplitIndex):
    """A one-split index over the current committed segment set
    (SearcherManager.maybeRefresh analogue: construct a new reader to see
    newly committed batches). It speaks the segment store's split read
    protocol (SplitIndex) over the flat postings of every live segment,
    so Searcher routes its queries like a segment store's."""

    spark: SparkSession
    index_dir: str

    # the whole doc range is split 0; flat postings always keep positions
    n_splits = 1
    keep_positions = True

    def __post_init__(self):
        man = _read(self.index_dir)
        segs = sorted(man["segments"])
        if not segs:
            raise FileNotFoundError(f"no committed segments in {self.index_dir}")
        self.manifest = man
        self._split_meta_cache = {}
        self._segs = [f"seg={s}" for s in segs]
        self._parquet = DriverParquet(f"{self.index_dir}/postings")
        raw_post = self.spark.read.parquet(
            *[f"{self.index_dir}/postings/seg={s}" for s in segs]
        )
        raw_docs = self.spark.read.parquet(
            *[f"{self.index_dir}/docs/seg={s}" for s in segs]
        )
        # liveDocs (.del BitVector analogue): every match stream drops
        # tombstoned docs, so deletes are visible IMMEDIATELY; term/
        # collection stats keep counting deleted docs until compaction,
        # exactly the reference pre-merge semantics (TermsEnum.docFreq
        # "does not take deleted docs into account"). The tombstone set
        # is fixed for the reader's life: its ids are read once, here,
        # and the lazy plans anti-join them as a local table.
        deletes = [
            pq.read_table(
                f"{self.index_dir}/deletes/del={d}", columns=["doc_id"]
            )
            for d in man["deletes"]
        ]
        self._tombstones = (
            pc.unique(pa.concat_tables(deletes)["doc_id"])
            if deletes
            else pa.array([], pa.int64())
        )
        if len(self._tombstones):
            tomb = self.spark.createDataFrame(
                pa.table({"doc_id": self._tombstones})
            )
            self.postings = raw_post.join(
                F.broadcast(tomb), "doc_id", "left_anti"
            )
            self.docs = raw_docs.join(
                F.broadcast(tomb), "doc_id", "left_anti"
            )
        else:
            self.postings = raw_post
            self.docs = raw_docs
        self._raw_postings = raw_post
        self.terms_stats = raw_post.groupBy("term").agg(
            F.count(F.lit(1)).alias("df"), F.sum("tf").alias("ttf")
        )
        # maxDoc = Σ per-segment maxDoc: counts deleted docs until the
        # merge drops them (Lucene maxDoc semantics across a merge)
        self.stats = CollectionStats(
            max_doc=sum(
                int(s["max_doc"]) for s in man["segments"].values()
            ),
            sum_total_term_freq=int(man["sum_total_term_freq"]),
        )

    # -- the split read protocol over flat postings ------------------------

    def _split_meta_rows(self, terms: list[str]) -> pd.DataFrame:
        """One split-0 row per indexed term of ``terms``, aggregated over
        the raw, pre-tombstone postings (so df = Σ nd keeps counting
        deleted docs until compaction): nd and sum_tf, and the block-max
        impacts max_tf and min_nb, the norm byte of the shortest doc
        (norm bytes encode the doc length monotonically)."""
        rows = (
            self._raw_postings.where(sql_in("term", terms, "string"))
            .groupBy("term")
            .agg(
                F.max("tf").alias("max_tf"),
                F.min_by("norm_byte", "dl").alias("min_nb"),
                F.count(F.lit(1)).alias("nd"),
                F.sum("tf").alias("sum_tf"),
            )
            .toPandas()
        )
        rows["split"] = np.zeros(len(rows), dtype=np.int64)
        return rows[SPLIT_META_COLUMNS]

    def _pull_postings(
        self,
        terms: list[str],
        want_positions: bool,
        splits: list[int] | None,
    ) -> pd.DataFrame | None:
        """A bounded fetch read on the driver: the live segments' flat
        postings rows of ``terms`` (from the row groups their ``term``
        statistics admit) minus tombstoned docs, or None when those row
        groups exceed ``wand.overhead_eq_bytes()`` compressed bytes. A
        one-split index ignores ``splits``."""
        from ..search.wand import overhead_eq_bytes  # wand imports us

        cols = ["term", "doc_id", "tf", "norm_byte"] + (
            ["positions"] if want_positions else []
        )
        table = self._parquet.read(
            self._segs, terms, cols, overhead_eq_bytes()
        )
        if table is None:
            return None
        if not table.num_rows:
            return _empty_decoded()
        table = table.filter(
            pc.invert(pc.is_in(table["doc_id"], value_set=self._tombstones))
        )
        out = table.to_pandas()
        if not want_positions:
            out["positions"] = pd.Series([None] * len(out), dtype="object")
        return out[["term", "doc_id", "tf", "positions", "norm_byte"]]

    def _scan_postings(
        self,
        terms: list[str],
        want_positions: bool,
        splits: list[int] | None,
    ) -> DataFrame:
        """Any fetch: the live flat scan as a lazy Catalyst filter."""
        return _decoded(
            self.postings.where(sql_in("term", terms, "string")),
            want_positions,
        )

    def postings_for_matched(
        self, matched: DataFrame, want_positions: bool = False
    ) -> DataFrame:
        """Live postings of an UNBOUNDED matched-term frame (multi-term
        expansions past the rewrite cap): a broadcast semi-join of the
        term set against the flat postings, never collected."""
        return _decoded(
            self.postings.join(
                F.broadcast(matched.select("term")), "term", "left_semi"
            ),
            want_positions,
        )

    def get(self, keys: list, key_col: str = "doc_id") -> DataFrame:
        """RealTimeGetComponent analogue (S/handler/component/
        RealTimeGetComponent.java): fetch current LIVE versions by
        unique key — deletes and overwrites from any committed
        micro-batch are visible without waiting for compaction."""
        return self.docs.where(F.col(key_col).isin(list(keys)))


def index_stream(
    stream_df: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Wire a streaming transcript source into the incremental writer.

    ``stream_df`` is a streaming DataFrame (readStream) with the
    transcript schema. Returns the StreamingQuery.
    """
    writer = IncrementalIndexWriter(stream_df.sparkSession, index_dir)
    ws = (
        stream_df.writeStream.foreachBatch(writer.foreach_batch())
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        ws = ws.trigger(availableNow=True)
    return ws.start()
