"""Streaming analogs of the reference's camera-OCR state machine.

Reference (behavior only):
- frame dedup gate by dice coefficient >= 0.9 vs the previous frame
  (/root/reference/models/ocr/base_ocr.py:377-434,
  /root/reference/utils/distances.py:125-130) -> stateful per-stream filter.
- RepetitionFilter: a box must appear >= n_repeat consecutive frames at the
  same place (IoU >= 0.5), unseen-eviction after 3 frames
  (/root/reference/utils/image/bounding_box/filters.py:88-188).
- emitted-text memory: global dedup set + last-k edit-distance window
  (base_ocr.py:36-37,451-458,716-723).

All are expressed on ``applyInPandasWithState`` over a micro-batch stream of
(stream_id, frame_id, payload) rows. There are NO event-time windows or
watermarks in the reference (frame index is processing time, SURVEY.md
§2.10 note); eviction is modeled as per-key state TTL by frame count.

These run against any streaming source; ``frame_stream_from_table`` adapts
a batch table via the rate source for the demo/test.
"""

from __future__ import annotations

import numpy as np

STATE_SCHEMA = "emitted array<string>, last_sig array<double>, seen_count int"
OUT_SCHEMA = "stream_id string, frame_id long, text string, is_new boolean"


def dice_coeff(a: np.ndarray, b: np.ndarray) -> float:
    """2*|x∩y| / (|x|+|y|) over binarized signals (distances.py:125-130)."""
    inter = np.minimum(a, b).sum()
    denom = a.sum() + b.sum()
    # divide_no_nan parity (distances.py:125-130): two all-zero (blank)
    # signatures score 0 -> blank frames are NOT flagged as duplicates
    return float(2.0 * inter / denom) if denom else 0.0


def emitted_text_gate(texts, emitted: set, last_k: list, *, k: int = 5, max_dist: float = 0.2):
    """Batch form of the emitted-text memory: returns keep-mask and updates
    state in place (set membership + last-k normalized edit distance)."""
    from ..kernels.textproc import edit_distance

    keep = []
    for t in texts:
        if not t or t in emitted:
            keep.append(False)
            continue
        near = any(edit_distance(prev, t, normalize=True) < max_dist for prev in last_k[-k:])
        if near:
            keep.append(False)
            continue
        keep.append(True)
        emitted.add(t)
        last_k.append(t)
    return keep


def dedup_texts_stateful(frames_df, *, max_emitted: int = 4096):
    """Streaming stateful text dedup: one state per stream_id holding the
    emitted set + last-k window. Input: streaming DF with columns
    (stream_id string, frame_id long, text string).

    Per-key state is BOUNDED: the emitted set keeps insertion order and
    evicts its oldest entries beyond ``max_emitted`` — a long-lived stream
    must not grow its state row (and the per-batch serialize cost) without
    limit. Eviction means a text can re-emit after max_emitted distinct
    newer texts — the same sliding-memory contract as RepetitionGate's
    memory_ttl."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            (emitted_list, last_k, seen) = state.get
            emitted_order = list(emitted_list)
            emitted = set(emitted_order)
            last_k = list(last_k)
        else:
            emitted_order, emitted, last_k, seen = [], set(), [], 0

        # concat all Arrow chunks first: per-chunk sorting would process
        # frames out of global frame_id order when a key spans chunks
        chunks = list(pdf_iter)
        pdf = (
            pd.concat(chunks) if chunks else pd.DataFrame(
                columns=["stream_id", "frame_id", "text"]
            )
        ).sort_values("frame_id", kind="stable")
        before = set(emitted)
        keep = emitted_text_gate(pdf["text"].tolist(), emitted, last_k)
        emitted_order.extend(
            dict.fromkeys(t for t in pdf["text"] if t in emitted and t not in before)
        )
        if len(emitted_order) > max_emitted:
            emitted_order = emitted_order[-max_emitted:]
        seen += len(pdf)
        state.update((emitted_order, last_k[-5:], seen))
        yield pd.DataFrame(
            {
                "stream_id": pdf["stream_id"],
                "frame_id": pdf["frame_id"],
                "text": pdf["text"],
                "is_new": keep,
            }
        )

    return frames_df.groupBy("stream_id").applyInPandasWithState(
        fn,
        outputStructType=OUT_SCHEMA,
        stateStructType="emitted array<string>, last_k array<string>, seen_count long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _drain(spark, rows, schema: str, op, *, checkpoint_dir: str, name: str, order_by: str):
    """Memory-sink micro-batch harness: ``rows`` -> a one-file parquet
    source under ``checkpoint_dir`` -> ``readStream`` -> ``op`` -> memory
    sink ``name``, drained once with ``availableNow``; returns the sink's
    rows sorted by ``order_by``."""
    import tempfile

    src = spark.createDataFrame(rows, schema)
    path = tempfile.mkdtemp(prefix=f"{name}_src_", dir=checkpoint_dir)
    src.coalesce(1).write.mode("overwrite").parquet(path)
    q = (
        op(spark.readStream.schema(src.schema).parquet(path))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{checkpoint_dir}/{name}_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name} order by {order_by}").collect()


def run_demo(spark, texts, *, checkpoint_dir: str):
    """Memory-sink micro-batch demo: feeds (stream_id, frame_id, text) rows
    through the stateful dedup and returns the collected result."""
    return _drain(
        spark,
        [("s0", i, t) for i, t in enumerate(texts)],
        "stream_id string, frame_id long, text string",
        dedup_texts_stateful,
        checkpoint_dir=checkpoint_dir,
        name="dedup_demo",
        order_by="frame_id",
    )


# ---------------------------------------------------------------------------
# X2: RepetitionFilter — a box must be seen in >= n_repeat consecutive frames
# at the same place (IoU >= iou_threshold) before it is emitted; a waiting
# box unseen for `max_unseen` consecutive frames is evicted; an emitted box
# is remembered and never re-emitted while it stays on screen (IoA vs memory
# suppression, X4). Reference behavior:
# /root/reference/utils/image/bounding_box/filters.py:88-188.


class RepetitionGate:
    """Pure-python/numpy form of the repetition state machine (unit-testable
    without Spark; the streaming wiring serializes this state per key)."""

    def __init__(
        self,
        *,
        n_repeat=2,
        iou_threshold=0.5,
        max_unseen=3,
        ioa_threshold=0.9,
        memory_ttl=30,
    ):
        self.n_repeat = n_repeat
        self.iou_threshold = iou_threshold
        self.max_unseen = max_unseen
        self.ioa_threshold = ioa_threshold
        self.memory_ttl = memory_ttl
        self.waiting = []  # [box(4 floats), count, unseen]
        # emitted boxes with their own unseen counter: suppression only holds
        # "while the box stays on screen" — an entry not refreshed for
        # memory_ttl frames is evicted, bounding state size and letting a
        # box that leaves and later returns be re-confirmed
        self.memory = []   # [box(4 floats), unseen]

    @staticmethod
    def _iou(a, b):
        ix = max(0.0, min(a[2], b[2]) - max(a[0], b[0]))
        iy = max(0.0, min(a[3], b[3]) - max(a[1], b[1]))
        inter = ix * iy
        ua = (a[2] - a[0]) * (a[3] - a[1]) + (b[2] - b[0]) * (b[3] - b[1]) - inter
        return inter / ua if ua > 0 else 0.0

    @staticmethod
    def _ioa(a, b):
        ix = max(0.0, min(a[2], b[2]) - max(a[0], b[0]))
        iy = max(0.0, min(a[3], b[3]) - max(a[1], b[1]))
        area = (a[2] - a[0]) * (a[3] - a[1])
        return (ix * iy) / area if area > 0 else 0.0

    def step(self, boxes):
        """One frame: returns the list of boxes newly confirmed this frame."""
        emitted = []
        matched = [False] * len(self.waiting)
        mem_seen = [False] * len(self.memory)
        for box in boxes:
            # X4: suppress anything already emitted and still in place
            suppressed = False
            for mi, (mbox, _uns) in enumerate(self.memory):
                if self._ioa(box, mbox) >= self.ioa_threshold:
                    mem_seen[mi] = True
                    suppressed = True
            if suppressed:
                continue
            best, best_iou = None, self.iou_threshold
            for i, (wbox, _cnt, _uns) in enumerate(self.waiting):
                if matched[i]:
                    continue
                iou = self._iou(box, wbox)
                if iou >= best_iou:
                    best, best_iou = i, iou
            if best is None:
                if self.n_repeat <= 1:
                    # 'seen in >= n_repeat consecutive frames' already holds
                    # on first sighting — emit immediately, never park it
                    emitted.append(list(box))
                    self.memory.append([list(box), 0])
                    mem_seen.append(True)
                else:
                    self.waiting.append([list(box), 1, 0])
                    matched.append(True)
            else:
                w = self.waiting[best]
                w[0], w[1], w[2] = list(box), w[1] + 1, 0
                matched[best] = True
                if w[1] >= self.n_repeat:
                    emitted.append(list(box))
                    self.memory.append([list(box), 0])
                    mem_seen.append(True)
        survivors = []
        for i, w in enumerate(self.waiting):
            if w[0] in emitted:
                continue  # promoted to memory
            if not matched[i]:
                w[2] += 1
                # reference keeps boxes while unseen <= max_unseen and
                # evicts strictly beyond it (filters.py:88-188)
                if w[2] > self.max_unseen:
                    continue  # evicted
            survivors.append(w)
        self.waiting = survivors
        mem_survivors = []
        for seen, m in zip(mem_seen, self.memory):
            if seen:
                m[1] = 0
            else:
                m[1] += 1
                if m[1] >= self.memory_ttl:
                    continue  # left the screen long ago: forget it
            mem_survivors.append(m)
        self.memory = mem_survivors
        return emitted


REP_OUT_SCHEMA = (
    "stream_id string, frame_id long, x0 double, y0 double, x1 double, y1 double"
)
REP_STATE_SCHEMA = (
    "waiting array<double>, counts array<int>, unseen array<int>, "
    "memory array<double>, mem_unseen array<int>"
)


def repetition_filter_stateful(frames_df, *, n_repeat=2, iou_threshold=0.5, max_unseen=3):
    """Streaming X2: input rows (stream_id string, frame_id long,
    boxes array<array<double>>); output one row per newly-confirmed box.
    State per stream key = the RepetitionGate fields, flattened to Spark
    state-store-friendly arrays (no binary pickles: resumable and
    inspectable across checkpoints)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdf_iter, state):
        import pandas as pd

        gate = RepetitionGate(
            n_repeat=n_repeat, iou_threshold=iou_threshold, max_unseen=max_unseen
        )
        if state.exists:
            flat_wait, counts, unseen, flat_mem, mem_unseen = state.get
            gate.waiting = [
                [list(flat_wait[4 * i : 4 * i + 4]), counts[i], unseen[i]]
                for i in range(len(counts))
            ]
            gate.memory = [
                [list(flat_mem[4 * i : 4 * i + 4]), mem_unseen[i]]
                for i in range(len(flat_mem) // 4)
            ]

        out = []
        # one key's micro-batch may span several Arrow chunks; concat before
        # sorting so frames are processed in global frame_id order
        chunks = list(pdf_iter)
        pdf_all = pd.concat(chunks) if chunks else pd.DataFrame(
            columns=["stream_id", "frame_id", "boxes"]
        )
        for _, row in pdf_all.sort_values("frame_id", kind="stable").iterrows():
            boxes = row["boxes"] if row["boxes"] is not None else []
            # native python scalars: the state/row unpickler on the JVM
            # side rejects numpy dtypes
            for box in gate.step([[float(v) for v in b] for b in boxes]):
                out.append((key[0], int(row["frame_id"]), *box))
        state.update(
            (
                [float(v) for w in gate.waiting for v in w[0]],
                [int(w[1]) for w in gate.waiting],
                [int(w[2]) for w in gate.waiting],
                [float(v) for m in gate.memory for v in m[0]],
                [int(m[1]) for m in gate.memory],
            )
        )
        yield pd.DataFrame(
            out, columns=["stream_id", "frame_id", "x0", "y0", "x1", "y1"]
        )

    return frames_df.groupBy("stream_id").applyInPandasWithState(
        fn,
        outputStructType=REP_OUT_SCHEMA,
        stateStructType=REP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_repetition_demo(spark, frames, *, checkpoint_dir: str):
    """Memory-sink micro-batch demo for the repetition filter: ``frames`` is
    [(stream_id, frame_id, [[x0,y0,x1,y1], ...]), ...]."""
    return _drain(
        spark,
        frames,
        "stream_id string, frame_id long, boxes array<array<double>>",
        repetition_filter_stateful,
        checkpoint_dir=checkpoint_dir,
        name="rep_demo",
        order_by="frame_id, x0",
    )


# ---------------------------------------------------------------------------
# X1: frame dedup gate — a frame whose (binarized) score-map signature has
# dice_coeff >= threshold vs the previously-kept frame is a duplicate and is
# dropped; after `tolerance` consecutive duplicates the gate re-emits one
# frame (the reference's pacing counter). Reference behavior:
# /root/reference/models/ocr/base_ocr.py:377-434 (stream_fn),
# /root/reference/utils/distances.py:125-130 (dice_coeff).

FRAME_OUT_SCHEMA = "stream_id string, frame_id long, is_duplicate boolean"
FRAME_STATE_SCHEMA = "last_sig array<double>, n_dup int"


def frame_dedup_stateful(frames_df, *, threshold: float = 0.9, tolerance: int = 5):
    """Streaming X1: input rows (stream_id string, frame_id long,
    sig array<double>) where sig is the frame's score-map signature
    (downsampled activation map); output flags duplicates per frame."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            last_sig, n_dup = state.get
            last = np.asarray(last_sig, dtype=np.float64)
        else:
            last, n_dup = None, 0

        out = []
        chunks = list(pdf_iter)
        pdf_all = pd.concat(chunks) if chunks else pd.DataFrame(
            columns=["stream_id", "frame_id", "sig"]
        )
        for _, row in pdf_all.sort_values("frame_id", kind="stable").iterrows():
            sig = np.asarray(
                row["sig"] if row["sig"] is not None else [], dtype=np.float64
            )
            dup = (
                last is not None
                and len(last) == len(sig)
                and dice_coeff(sig, last) >= threshold
            )
            if dup:
                n_dup += 1
                if n_dup >= tolerance:  # pacing: re-emit after N dups
                    dup, n_dup = False, 0
            else:
                n_dup = 0
            if not dup:
                last = sig
            out.append((key[0], int(row["frame_id"]), bool(dup)))
        state.update(
            ([float(v) for v in (last if last is not None else [])], int(n_dup))
        )
        yield pd.DataFrame(out, columns=["stream_id", "frame_id", "is_duplicate"])

    return frames_df.groupBy("stream_id").applyInPandasWithState(
        fn,
        outputStructType=FRAME_OUT_SCHEMA,
        stateStructType=FRAME_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_frame_dedup_demo(spark, frames, *, checkpoint_dir: str, threshold: float = 0.9):
    """Memory-sink micro-batch demo: ``frames`` is
    [(stream_id, frame_id, [sig floats...]), ...]."""
    return _drain(
        spark,
        frames,
        "stream_id string, frame_id long, sig array<double>",
        lambda stream: frame_dedup_stateful(stream, threshold=threshold),
        checkpoint_dir=checkpoint_dir,
        name="frame_dedup_demo",
        order_by="frame_id",
    )


# ---------------------------------------------------------------------------
# Event-time windowed aggregation with a watermark — beyond the reference
# (its streams are processing-time only, SURVEY.md §2.10 note) but a core
# Structured Streaming capability for crawl-event telemetry: late events
# inside the lateness bound still land in their hour; older ones are
# dropped and their window state evicted.


def windowed_event_counts(events_df, *, window_len="1 hour", lateness="30 minutes"):
    """(ts timestamp, event_type string) stream -> per-window, per-type
    counts. Watermark bounds the state store: windows older than
    max(event time) - lateness are finalized and evicted."""
    from pyspark.sql import functions as F

    return (
        events_df.withWatermark("ts", lateness)
        .groupBy(F.window("ts", window_len).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def run_windowed_demo(spark, batches, *, checkpoint_dir: str, lateness="30 minutes"):
    """Sequential micro-batch demo with REAL watermark semantics: each
    element of ``batches`` ([(ts_string, event_type), ...]) is written as
    one file and drained by its own availableNow query sharing a
    checkpoint, so the watermark persists between batches and events
    older than max(event time) - lateness are genuinely dropped.
    Output mode is update (complete mode would disable watermarking).
    Returns all rows emitted across batches (latest update per window
    wins)."""
    import os

    from pyspark.sql import functions as F

    src_dir = os.path.join(checkpoint_dir, "win_src")
    os.makedirs(src_dir, exist_ok=True)
    emitted = {}
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "ts_s string, event_type string").select(
            F.col("ts_s").cast("timestamp").alias("ts"), "event_type"
        )
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src_dir, f"b{i}"))
        stream = spark.readStream.schema("ts timestamp, event_type string").parquet(
            src_dir + "/*"
        )
        out_dir = os.path.join(checkpoint_dir, "win_out")

        def sink(batch_df, epoch_id):
            # memory sink cannot recover from a checkpoint; foreachBatch can
            batch_df.withColumn("epoch", F.lit(int(epoch_id))).write.mode(
                "append"
            ).parquet(out_dir)

        q = (
            windowed_event_counts(stream, lateness=lateness)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", f"{checkpoint_dir}/win_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    rows = sorted(
        spark.read.parquet(os.path.join(checkpoint_dir, "win_out")).collect(),
        key=lambda r: r.epoch,
    )
    for r in rows:  # later update for a window overwrites the earlier one
        emitted[(str(r.window_start), r.event_type)] = r.n_events
    return emitted


MINHASH_STATE_SCHEMA = "docs array<long>, sigs array<string>"
MINHASH_OUT_SCHEMA = "doc_id long, band int, match_doc long, agree_milli long"


def minhash_dedup_stateful(
    docs_df,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    max_state: int = 2048,
):
    """Streaming NEAR-dup gate: every incoming doc LSH-probes the stream's
    HISTORY. The batch `minhash_lsh_pairs` machinery is reused verbatim
    for the narrow part (shingle arrays -> per-seed min(xxhash64)
    signature -> band bucket); the stateful part keys on (band, bucket)
    and keeps a BOUNDED FIFO of (doc_id, full signature) per bucket —
    a colliding newcomer estimates Jaccard by signature AGREEMENT
    (matched minhashes / num_hashes, the standard streaming
    approximation; the batch path keeps exact shingle verification).

    Emits one row per (doc, band) probe: match_doc = best-agreeing prior
    doc in that bucket (ties -> smallest doc_id) or NULL when the doc is
    first in its bucket; agree_milli = floor(1000 * agreement). Docs
    with fewer than `shingle` tokens are dropped (empty shingle set —
    same contract as the batch path). Within a micro-batch, docs are
    processed in doc_id order (the stream's arrival order across
    batches, doc_id order within one)."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import shingle_arrays

    rows_per_band = num_hashes // bands
    sets = shingle_arrays(docs_df, shingle=shingle)

    def _minhash(seed: int):
        return F.array_min(F.transform("shs", lambda x: F.xxhash64(x, F.lit(seed))))

    mins = sets.select(
        "doc_id",
        F.array(*[_minhash(seed) for seed in range(num_hashes)]).alias("sig"),
    )
    bucketed = mins.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).cast("int").alias("band"),
                    F.xxhash64(
                        F.lit(b),
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(
        "doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )

    def fn(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            docs_hist, sigs_ser = state.get
            docs_hist = list(docs_hist)
            sigs_hist = [[int(x) for x in s.split(",")] for s in sigs_ser]
        else:
            docs_hist, sigs_hist = [], []

        band = int(key[0])
        chunks = list(pdf_iter)
        pdf = (
            pd.concat(chunks)
            if chunks
            else pd.DataFrame(columns=["doc_id", "sig", "band", "bucket"])
        )
        out = []
        for _, row in pdf.sort_values("doc_id", kind="stable").iterrows():
            sig = [int(x) for x in row["sig"]]
            best_doc, best_agree = None, -1
            for d, s in zip(docs_hist, sigs_hist):
                agree = sum(1 for a, b in zip(sig, s) if a == b)
                if agree > best_agree or (agree == best_agree and d < best_doc):
                    best_doc, best_agree = d, agree
            out.append(
                {
                    "doc_id": int(row["doc_id"]),
                    "band": band,
                    "match_doc": best_doc,
                    "agree_milli": (
                        best_agree * 1000 // len(sig) if best_doc is not None else 0
                    ),
                }
            )
            docs_hist.append(int(row["doc_id"]))
            sigs_hist.append(sig)
            if len(docs_hist) > max_state:
                docs_hist = docs_hist[-max_state:]
                sigs_hist = sigs_hist[-max_state:]

        state.update((docs_hist, [",".join(str(x) for x in s) for s in sigs_hist]))
        yield pd.DataFrame(out, columns=["doc_id", "band", "match_doc", "agree_milli"])

    return bucketed.groupBy("band", "bucket").applyInPandasWithState(
        fn,
        outputStructType=MINHASH_OUT_SCHEMA,
        stateStructType=MINHASH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_minhash_dedup_demo(spark, doc_batches, checkpoint_dir: str):
    """Drive minhash_dedup_stateful over a file stream: each batch of
    (doc_id, text) rows lands as its own parquet file; maxFilesPerTrigger=1
    forces one micro-batch per file so state genuinely crosses batches."""
    import os

    path = os.path.join(checkpoint_dir, "docs_in")
    os.makedirs(path, exist_ok=True)
    for i, batch in enumerate(doc_batches):
        spark.createDataFrame(batch, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(path)
    src = spark.read.parquet(path)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    q = (
        minhash_dedup_stateful(stream)
        .writeStream.format("memory")
        .queryName("minhash_dedup_out")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(checkpoint_dir, "ckpt_mh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table("minhash_dedup_out").collect()
