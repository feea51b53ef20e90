"""Reconciliation CLI (reference O5, cli/parser.py + cli/commands.py).

``reconcile run`` over parquet table pairs, ``reconcile report`` to
re-format a saved report, ``reconcile schedule`` for interval runs.
Exit code 1 iff the report status is FAIL (reference commands.py:248-253).

The reference points at two live databases; this engine points at two
data directories (parquet roots), each holding one file/dir per table —
the same reconciliation surface, Spark-native IO.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def create_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="reconcile", description="Spark reconciliation engine")
    sub = p.add_subparsers(dest="command", required=True)

    run = sub.add_parser("run", help="reconcile tables between two parquet roots")
    run.add_argument("--source-dir", required=True)
    run.add_argument("--target-dir", required=True)
    run.add_argument("--tables", nargs="+", help="table names (basename without .parquet)")
    run.add_argument("--tables-file", help="file with one table name per line")
    run.add_argument("--validate-checksums", action="store_true")
    run.add_argument("--row-level", action="store_true")
    run.add_argument("--pk-columns", nargs="+", help="primary key column(s)")
    run.add_argument("--generate-repair", metavar="OUT_SQL", help="write repair SQL here")
    run.add_argument("--repair-dialect", default="postgresql",
                     choices=["postgresql", "sqlserver"])
    run.add_argument("--incremental", action="store_true",
                     help="delta checksums over rows changed since the last run")
    run.add_argument("--state-dir", help="state directory for incremental mode")
    run.add_argument("--change-col", help="change-tracking column (incremental mode)")
    run.add_argument("--parallel", action="store_true")
    run.add_argument("--parallel-workers", type=int, default=4)
    run.add_argument("--format", default="console", choices=["json", "csv", "console"])
    run.add_argument("--output", help="write report to this path")
    run.add_argument("--metrics-out",
                     help="write Prometheus text-exposition metrics here after the run")

    rep = sub.add_parser("report", help="re-format a saved JSON report")
    rep.add_argument("report_path")
    rep.add_argument("--format", default="console", choices=["json", "csv", "console"])

    sched = sub.add_parser("schedule", help="run reconciliation on an interval")
    sched.add_argument("--interval-seconds", type=float, required=True)
    sched.add_argument("--max-runs", type=int, default=0, help="0 = forever")
    sched.add_argument("--output-dir", required=True)
    for a in ("--source-dir", "--target-dir"):
        sched.add_argument(a, required=True)
    sched.add_argument("--tables", nargs="+")
    sched.add_argument("--validate-checksums", action="store_true")

    stream = sub.add_parser(
        "stream", help="run the CDC apply pipeline over a change spool"
    )
    stream.add_argument("--spool-dir", required=True,
                        help="directory of Debezium-style JSON change files")
    stream.add_argument("--target-dir", required=True)
    stream.add_argument("--checkpoint-dir", required=True)
    stream.add_argument("--payload-schema", required=True,
                        help='business-row DDL, e.g. "id LONG, name STRING, amount DOUBLE"')
    stream.add_argument("--pk-columns", nargs="+", required=True)
    stream.add_argument("--dlq-dir")
    stream.add_argument("--stale-hours", type=int, default=24)
    stream.add_argument("--max-files-per-trigger", type=int,
                        help="bound each micro-batch (max.batch.size parity)")
    stream.add_argument("--partitions", type=int, default=0,
                        help="hash-partition the parquet target into N "
                             "partitions; a batch rewrites only the "
                             "partitions it touches and commits them as "
                             "one manifest version (0 = one partition)")
    stream.add_argument("--transactional", action="store_true",
                        help="apply source transactions all-or-nothing "
                             "(provide.transaction.metadata parity)")

    corpus = sub.add_parser(
        "corpus", help="dedup a document corpus: pairs -> clusters -> keep list"
    )
    corpus.add_argument("--input", required=True,
                        help="parquet of documents")
    corpus.add_argument("--id-col", default="doc_id")
    corpus.add_argument("--text-col", default="text")
    corpus.add_argument("--threshold", type=float, default=0.5,
                        help="Jaccard threshold for near-dup pairs")
    corpus.add_argument("--output", required=True,
                        help="write the keep-list parquet here")
    corpus.add_argument("--stats-out", help="write run stats JSON here")
    corpus.add_argument("--substring", action="store_true",
                        help="exact-substring span dedup instead of "
                             "document dedup: strip maximal k-token "
                             "spans recurring across documents")
    corpus.add_argument("--span-tokens", type=int, default=16,
                        help="window size (k) for --substring")
    corpus.add_argument("--min-docs", type=int, default=2,
                        help="distinct-document threshold for --substring")

    decontam = sub.add_parser(
        "decontam",
        help="flag training docs sharing k-grams with an eval/benchmark set",
    )
    decontam.add_argument("--input", required=True,
                          help="corpus parquet (or, streaming with "
                               "--eval-ingest, an eval change batch)")
    decontam.add_argument("--eval-set",
                          help="batch mode: benchmark/eval parquet "
                               "(same text column)")
    decontam.add_argument("--id-col", default="doc_id")
    decontam.add_argument("--text-col", default="text")
    decontam.add_argument("--k", type=int, default=8,
                          help="k-gram size (8-13 typical for decontamination)")
    decontam.add_argument("--min-hits", type=int, default=1)
    decontam.add_argument("--output",
                          help="CLEAN/accepted docs parquet (batch: one "
                               "table; streaming: per-batch generations)")
    decontam.add_argument("--report-out",
                          help="write the per-doc contamination report parquet here")
    decontam.add_argument("--stats-out", help="write run stats JSON here")
    decontam.add_argument("--eval-state-dir",
                          help="STREAMING mode: maintain the eval-gram "
                               "index here; with --eval-ingest the input "
                               "is an EVAL change batch (may carry "
                               "--lsn-col/--deleted-col to update/retire "
                               "benchmarks), otherwise --input is a "
                               "CORPUS batch gated against the index's "
                               "CURRENT state")
    decontam.add_argument("--eval-ingest", action="store_true",
                          help="streaming mode: treat --input as an eval "
                               "change batch (requires --eval-state-dir)")
    decontam.add_argument("--quarantine-out",
                          help="streaming mode: quarantine-log root "
                               "(one generation per batch id)")
    decontam.add_argument("--lsn-col", default=None)
    decontam.add_argument("--deleted-col", default=None)
    decontam.add_argument("--batch-id", type=int, default=None)
    decontam.add_argument("--partitions", type=int, default=32)
    decontam.add_argument("--semantic", action="store_true",
                          help="streaming mode: gate EMBEDDINGS against a "
                               "streamed eval embedding index (LSH + exact "
                               "cosine — catches paraphrases n-grams miss); "
                               "--text-col names the vector column")
    decontam.add_argument("--threshold", type=float, default=0.9,
                          help="semantic mode: cosine threshold")
    decontam.add_argument("--dim", type=int, default=64,
                          help="semantic mode: vector dimension (sizes the "
                               "hyperplanes baked into stored band keys)")
    decontam.add_argument("--compact-logs", type=int, default=None,
                          metavar="WM",
                          help="streaming mode: instead of gating, fold "
                               "accepted/quarantine generations with batch "
                               "id <= WM into one compacted generation each "
                               "(run quiesced)")
    decontam.add_argument("--retain-batches", type=int, default=None,
                          metavar="N",
                          help="streaming mode: retention policy over both "
                               "logs — after the corpus gating batch, keep "
                               "the newest N batch generations replayable "
                               "and fold older ones (watermark = latest "
                               "committed batch id - N); pick N at or past "
                               "the stream's reprocessing window")

    rollup = sub.add_parser(
        "rollup",
        help="merge a delta partition into a materialized continuous aggregate",
    )
    rollup.add_argument("--input", required=True,
                        help="parquet of the NEW rows (the delta/refresh partition)")
    rollup.add_argument("--state-dir", required=True,
                        help="persisted aggregate state table (created on first run)")
    rollup.add_argument("--key-columns", nargs="+", required=True)
    rollup.add_argument("--value-col", required=True)
    rollup.add_argument("--batch-id", type=int, default=None,
                        help="with --idempotent: skip already-merged batch ids")
    rollup.add_argument("--idempotent", action="store_true")
    rollup.add_argument("--output",
                        help="also write the finalized aggregate parquet here")
    rollup.add_argument("--partitions", type=int, default=0,
                        help="hash-partition the state into N independent "
                             "partitions; a batch rewrites only the "
                             "partitions it touches (0 = one partition)")

    sketch = sub.add_parser(
        "sketch",
        help="maintain a count-min frequency sketch over a column "
             "(bounded mergeable state; heavy-hitter estimates)",
    )
    sketch.add_argument("--input", required=True,
                        help="parquet with one item OCCURRENCE per row")
    sketch.add_argument("--item-col", required=True)
    sketch.add_argument("--state-dir", required=True,
                        help="persisted sketch (created on first run; "
                             "subsequent runs merge cell-wise)")
    sketch.add_argument("--estimate",
                        help="parquet of candidate items: write their "
                             "sketch estimates to --output")
    sketch.add_argument("--output",
                        help="estimates parquet (requires --estimate)")

    ann = sub.add_parser(
        "ann",
        help="maintain a streaming ANN index (hyperplane band keys, "
             "hash-partitioned state) and run near-dup queries against it",
    )
    ann.add_argument("--state-dir", required=True,
                     help="persisted index (created on first run; "
                          "subsequent ingests upsert only touched "
                          "partitions)")
    ann.add_argument("--id-col", default="vec_id")
    ann.add_argument("--vec-col", default="embedding")
    ann.add_argument("--ingest", help="parquet of vectors to upsert")
    ann.add_argument("--lsn", type=int,
                     help="ordering stamp for this ingest (default: "
                          "one past the stored maximum)")
    ann.add_argument("--query",
                     help="parquet of probe vectors: write near-dups "
                          "(a=probe, b=indexed, cosine) to --output")
    ann.add_argument("--threshold", type=float, default=0.9)
    ann.add_argument("--output", help="near-dup parquet (requires --query)")
    ann.add_argument("--partitions", type=int, default=32)
    ann.add_argument("--bands", type=int, default=8)
    ann.add_argument("--planes-per-band", type=int, default=10)
    ann.add_argument("--dim", type=int, default=64)
    ann.add_argument("--mode", choices=("lsh", "ivf", "pq", "ivfpq"),
                     default="lsh",
                     help="lsh: banded near-dup index (default); ivf: "
                          "cell-probed top-k index with per-epoch "
                          "centroids stored in the state dir; pq: "
                          "product-quantized ADC top-k with per-epoch "
                          "codebooks stored in the state dir; ivfpq: "
                          "coarse cells over product-quantized "
                          "residuals — the composite 100 TB shape "
                          "(cell pruning x 32x compression), per-epoch "
                          "centroids AND books stored in the state dir")
    ann.add_argument("--train-cells", type=int,
                     help="ivf/ivfpq first run: train this many k-means "
                          "cells on the --ingest batch and store them "
                          "as the state dir's epoch")
    ann.add_argument("--k", type=int, default=10,
                     help="ivf/pq/ivfpq: top-k per probe vector")
    ann.add_argument("--n-probe", type=int, default=2,
                     help="ivf/ivfpq: cells probed per query")
    ann.add_argument("--train-codes", type=int,
                     help="pq/ivfpq first run: train this many codewords "
                          "per subspace on the --ingest batch (ivfpq: on "
                          "its cell residuals) and store the books as "
                          "the state dir's epoch")
    ann.add_argument("--m-sub", type=int, default=8,
                     help="pq/ivfpq: subspaces (must divide --dim)")
    ann.add_argument("--refine", type=int, default=32,
                     help="pq/ivfpq: ADC candidates exact-re-ranked per "
                          "query")
    ann.add_argument("--capture-baseline", action="store_true",
                     help="ivf/pq/ivfpq: record the current index-"
                          "quality scalar as the epoch's training-time "
                          "baseline (run once after the bootstrap "
                          "ingest)")
    ann.add_argument("--drift", type=float, nargs="?", const=0.05,
                     default=None, metavar="TOL",
                     help="ivf/pq/ivfpq: probe staleness vs the captured "
                          "baseline; drifted when the mean fell by more "
                          "than TOL (default 0.05)")
    ann.add_argument("--rotate-to", metavar="NEW_DIR",
                     help="ivf/pq/ivfpq: retrain on the streamed vectors "
                          "(ivfpq: cells AND residual books) and "
                          "bulk-load state into a NEW epoch dir (LSNs "
                          "preserved); consumers generation-swap")
    gate = sub.add_parser(
        "gate",
        help="ingest-time dedup gate: probe a batch against the standing "
             "streamed index, cluster the remainder within the batch, "
             "index only survivors (text MinHash, embedding LSH, or "
             "image/audio/video perceptual fingerprints; mode=auto "
             "container-sniffs a MIXED media stream and gates each "
             "family against itself)",
    )
    gate.add_argument("--mode",
                      choices=("text", "embedding", "image", "audio",
                               "video", "auto"),
                      default="text")
    gate.add_argument("--state-dir", required=True,
                      help="standing index (created on first batch)")
    gate.add_argument("--dups-dir", required=True,
                      help="dup-log root (one generation per batch id)")
    gate.add_argument("--ingest",
                      help="parquet batch to gate and (partially) index "
                           "(required unless --compact-dups)")
    gate.add_argument("--id-col", default=None,
                      help="default: doc_id (text/image/audio) / vec_id "
                           "(embedding)")
    gate.add_argument("--content-col", default=None,
                      help="default: text (text) / embedding (embedding) "
                           "/ payload (image/audio)")
    gate.add_argument("--threshold", type=float, default=None,
                      help="default: 0.5 jaccard (text) / 0.95 cosine "
                           "(embedding)")
    gate.add_argument("--max-hamming", type=int, default=6,
                      help="media modes: fingerprint Hamming distance "
                           "treated as a near-dup (the 7x9-bit banding "
                           "has full recall through 6)")
    gate.add_argument("--media-decoder", default="auto",
                      help="image/audio/video modes: payload decoder "
                           "dispatch (default: magic-byte sniff; "
                           "mode=auto requires it)")
    gate.add_argument("--granularity", choices=("clip", "frame"),
                      default="clip",
                      help="video mode: 'frame' stores per-sampled-"
                           "frame fingerprints and rejects a clip at "
                           ">= --min-match-frames matching frames — "
                           "the re-cut recall path (clip-level fold is "
                           "the cheap default)")
    gate.add_argument("--min-match-frames", type=int, default=3,
                      help="video frame granularity: matching sampled "
                           "frames that make a clip a duplicate")
    gate.add_argument("--batch-id", type=int, default=None,
                      help="batch id / LSN stamp (default: one past the "
                           "number of existing dup-log generations)")
    gate.add_argument("--partitions", type=int, default=32)
    gate.add_argument("--lsn-col", default=None,
                      help="ordering column carried by the batch (CDC "
                           "streams); default: stamp rows with batch id")
    gate.add_argument("--deleted-col", default=None,
                      help="soft-delete flag column: deletes bypass the "
                           "probe and retire the doc from the index")
    gate.add_argument("--gate-bands", type=int, default=None,
                      help="LSH bands (default: 4 text / 8 embedding)")
    gate.add_argument("--gate-planes", type=int, default=None,
                      help="embedding mode: hyperplanes per band "
                           "(default 10)")
    gate.add_argument("--gate-dim", type=int, default=None,
                      help="embedding mode: vector dimension (default 64; "
                           "MUST match the data — it sizes the "
                           "hyperplanes baked into the stored band keys)")
    gate.add_argument("--compact-dups", type=int, default=None, metavar="WM",
                      help="instead of gating a batch: fold dup-log "
                           "generations with batch id <= WM into one "
                           "compacted generation (WM must be past the "
                           "stream's replay horizon; run quiesced)")
    gate.add_argument("--retain-batches", type=int, default=None,
                      metavar="N",
                      help="retention POLICY over the dup log (the "
                           "reference's 30-day DLQ retention knob as one "
                           "flag): keep the newest N batch generations "
                           "replayable and fold everything older into "
                           "the compacted generation — the watermark "
                           "derives from the log's latest committed "
                           "batch id minus N. Runs AFTER --ingest's "
                           "batch, or standalone; pick N at or past the "
                           "stream's reprocessing window")

    media = sub.add_parser(
        "media",
        help="multimodal payload plane: byte-level features, image "
             "decode, audio frame sampling, video frame sampling over "
             "a parquet of (id, binary payload) rows — all ten "
             "pure-python codec families, Arrow-batched",
    )
    media.add_argument("--input", required=True,
                       help="parquet with the payload column")
    media.add_argument("--id-col", default="doc_id")
    media.add_argument("--payload-col", default="payload")
    media.add_argument("--mode", required=True,
                       choices=["features", "image", "audio", "video",
                                "resize", "resample", "thumbnails",
                                "phash", "afp", "vhash", "mfp",
                                "vframe"])
    media.add_argument("--decoder", default="auto",
                       help="image: bmp/png/jpeg/gif/auto; audio: "
                            "wav/adpcm/flac/subband; video: mjpeg/avi/mcv")
    media.add_argument("--frame-ms", type=int, default=1000,
                       help="audio sampling window")
    media.add_argument("--stride", type=int, default=1,
                       help="video: keep every Nth frame")
    media.add_argument("--max-frames", type=int, default=8)
    media.add_argument("--fps", type=int, default=25,
                       help="video: elementary-stream timestamp base "
                            "(containerized formats carry their own)")
    media.add_argument("--target-rate", type=int, default=16000,
                       help="resample target sample rate")
    media.add_argument("--width", type=int, default=64,
                       help="resize target width")
    media.add_argument("--height", type=int, default=64,
                       help="resize target height")
    media.add_argument("--partitions", type=int, default=0,
                       help="repartition before the codec stage (0 = "
                            "leave the scan's split count; set to the "
                            "core count when the input is few files)")
    media.add_argument("--near-pairs", metavar="DIR",
                       help="fingerprint modes: also write the banded-"
                            "Hamming near-dup pairs (a, b, hamming) "
                            "over the computed fingerprints here "
                            "(vframe: clip pairs (a, b, n_frames, "
                            "hamming) under the >= k matching-frames "
                            "law)")
    media.add_argument("--max-hamming", type=int, default=6,
                       help="fingerprint --near-pairs: Hamming cut "
                            "(full recall through 6)")
    media.add_argument("--min-match-frames", type=int, default=3,
                       help="vframe --near-pairs: matching sampled "
                            "frames that make two clips near-dups")
    media.add_argument("--output", required=True)

    sample = sub.add_parser(
        "sample",
        help="deterministic corpus sampling: content-hash keep/drop "
             "(reproducible across engines, partitionings, and runs), "
             "stratified caps, quality-weighted Bernoulli, and "
             "cluster-balanced diversity selection over embeddings",
    )
    sample.add_argument("--input", required=True,
                        help="parquet corpus (documents or embeddings)")
    sample.add_argument("--output", required=True)
    sample.add_argument("--mode", required=True,
                        choices=["deterministic", "stratified",
                                 "weighted", "diversity",
                                 "diversity-stream"])
    sample.add_argument("--key-col", default="doc_id",
                        help="content-hash key (the sample is a pure "
                             "function of this column's values)")
    sample.add_argument("--fraction", type=float, default=0.1,
                        help="deterministic/weighted: keep fraction")
    sample.add_argument("--weight-col",
                        help="weighted: per-row quality weight in "
                             "[0, 1]; keep probability = weight x "
                             "fraction")
    sample.add_argument("--strata", nargs="+",
                        help="stratified: stratum column(s)")
    sample.add_argument("--per-stratum", type=int, default=100,
                        help="stratified: max rows kept per stratum")
    sample.add_argument("--vec-col", default="embedding",
                        help="diversity: embedding column")
    sample.add_argument("--quota", type=int, default=1000,
                        help="diversity: max rows kept per IVF cell")
    sample.add_argument("--state-dir",
                        help="diversity-stream: standing selection state "
                             "(created on first batch; each invocation "
                             "folds --input into it and writes the "
                             "current selection to --output)")
    sample.add_argument("--batch-id", type=int, default=None,
                        help="diversity-stream: LSN stamp (default: one "
                             "past the stored max)")
    sample.add_argument("--partitions", type=int, default=32,
                        help="diversity-stream: state partition count")
    sample.add_argument("--cells", type=int, default=64,
                        help="diversity: IVF cell count (first-n-by-id "
                             "centroids; train via the ann CLI for "
                             "production recall)")
    sample.add_argument("--capture-baseline", action="store_true",
                        help="diversity-stream: record the current mean "
                             "assigned-cosine as the epoch's bootstrap "
                             "baseline (run once after the first folds)")
    sample.add_argument("--drift", type=float, nargs="?", const=0.05,
                        default=None, metavar="TOL",
                        help="diversity-stream: probe staleness vs the "
                             "captured baseline; drifted when the mean "
                             "fell by more than TOL (default 0.05)")
    sample.add_argument("--rotate-to", metavar="NEW_DIR",
                        help="diversity-stream: open a NEW centroid "
                             "epoch (spherical k-means retrain) and "
                             "re-fold --input into it EXACTLY — the new "
                             "selection is the batch sampler over "
                             "--input with the new cells; consumers "
                             "generation-swap to NEW_DIR")
    sample.add_argument("--rotate-cells", type=int, default=None,
                        help="diversity-stream: cell count for the "
                             "rotated epoch (default: current)")

    pipe = sub.add_parser(
        "pipeline",
        help="the composed ingest path: run one micro-batch through a "
             "configured chain of gate stages (text near-dup gate -> "
             "eval-set decontamination -> streamed diversity sampler), "
             "each stage handing its survivors on through its own "
             "exactly-once artifact",
    )
    pipe.add_argument("--input",
                      help="parquet batch to ingest through the chain "
                           "(required unless --retain-batches)")
    pipe.add_argument("--retain-batches", type=int, default=None,
                      metavar="N",
                      help="instead of ingesting: one retention pass "
                           "over EVERY configured stage's artifacts — "
                           "gate dup logs and decontam generations "
                           "keep the newest N batches replayable "
                           "(older fold into the compacted "
                           "generation), the diversity state purges "
                           "eviction tombstones at or below "
                           "latest_batch - N. Run quiesced; each "
                           "stage's maintenance lock enforces it")
    pipe.add_argument("--state-root", required=True,
                      help="root dir; each stage keeps its state and "
                           "artifacts under <root>/<stage>/")
    pipe.add_argument("--stages", required=True,
                      help="comma list, executed in order; any of: "
                           "text-dedup, embedding-dedup, media-dedup, "
                           "decontam, diversity (each at most once)")
    pipe.add_argument("--id-col", default="doc_id")
    pipe.add_argument("--text-col", default="text")
    pipe.add_argument("--vec-col", default="embedding",
                      help="embedding-dedup / diversity stages: "
                           "embedding column")
    pipe.add_argument("--payload-col", default="payload",
                      help="media-dedup: binary payload column")
    pipe.add_argument("--media", default="auto",
                      choices=("image", "audio", "video", "auto"),
                      help="media-dedup: fingerprint family (auto = "
                           "per-row container sniff)")
    pipe.add_argument("--max-hamming", type=int, default=6,
                      help="media-dedup: near-dup Hamming bar")
    pipe.add_argument("--media-granularity", choices=("clip", "frame"),
                      default="clip",
                      help="media-dedup with --media video: 'frame' "
                           "rejects clips at >= --media-min-frames "
                           "matching sampled frames (re-cut recall)")
    pipe.add_argument("--media-min-frames", type=int, default=3,
                      help="media-dedup frame granularity: matching "
                           "frames that make a clip a duplicate")
    pipe.add_argument("--emb-threshold", type=float, default=0.95,
                      help="embedding-dedup: cosine near-dup bar")
    pipe.add_argument("--emb-dim", type=int, default=64,
                      help="embedding-dedup: vector dimension (sizes "
                           "the LSH hyperplanes — must match the data)")
    pipe.add_argument("--threshold", type=float, default=0.5,
                      help="text-dedup: shingle-Jaccard near-dup bar")
    pipe.add_argument("--num-hashes", type=int, default=32,
                      help="text-dedup: MinHash signature width")
    pipe.add_argument("--bands", type=int, default=16,
                      help="text-dedup: LSH bands")
    pipe.add_argument("--eval-state", default=None,
                      help="decontam: EvalGramIndexSink state dir "
                           "(build via the decontam CLI)")
    pipe.add_argument("--min-hits", type=int, default=1,
                      help="decontam: eval-gram hits that quarantine")
    pipe.add_argument("--gram-k", type=int, default=8,
                      help="decontam: gram width (must match the eval "
                           "state's recorded k)")
    pipe.add_argument("--quota", type=int, default=1000,
                      help="diversity: rows kept per IVF cell")
    pipe.add_argument("--cells", type=int, default=64,
                      help="diversity: IVF cell count")
    pipe.add_argument("--batch-id", type=int, default=None,
                      help="LSN stamp for every stage (default: the "
                           "root's recorded next id; pass explicitly "
                           "to REPLAY a batch — every stage is "
                           "exactly-once)")
    pipe.add_argument("--partitions", type=int, default=32)
    pipe.add_argument("--output", default=None,
                      help="optional parquet path for the final "
                           "stage's surviving rows")

    state = sub.add_parser(
        "state",
        help="day-2 maintenance on a sink state (flat or hash-partitioned): "
             "tombstone purge (retention) and partition-count rescale. "
             "ALL state ops require a quiesced state (stop concurrent "
             "streams first) — they are single-writer passes, ENFORCED "
             "by a __maintenance.lock sentinel: the pass holds it, "
             "concurrent sink batches fail fast until it releases, and "
             "a crashed pass leaves a lock that self-clears once its "
             "pid is gone (or its timestamp ages out)",
    )
    state.add_argument("--state-dir", required=True)
    state.add_argument("--pk", nargs="+", required=True,
                       help="primary-key column(s) of the state")
    state.add_argument("--lsn-col", default="lsn")
    state.add_argument("--purge-watermark", type=int,
                       help="drop soft-deleted rows with lsn <= this; "
                            "the source must no longer be able to "
                            "replay at or below it (CDC retention)")
    state.add_argument("--deleted-col",
                       help="tombstone flag column (default: whichever "
                            "of __del / __deleted the state carries)")
    state.add_argument("--rescale", type=int,
                       help="re-hash the state into this many "
                            "partitions (quiesce the stream first)")
    state.add_argument("--scd2-prune-watermark", type=int,
                       help="treat the state as SCD2 HISTORY and drop "
                            "versions whose validity ended at or below "
                            "this LSN (time travel at/above it is "
                            "unchanged)")
    return p


def _table_list(args) -> list[str]:
    tables = list(args.tables or [])
    if getattr(args, "tables_file", None):
        with open(args.tables_file) as f:
            tables.extend(line.strip() for line in f if line.strip())
    if not tables:
        raise SystemExit("no tables given (--tables / --tables-file)")
    return tables


def _emit(report: dict, fmt: str, output: str | None) -> None:
    from sqlserver_pg_cdc_spark.operators.report import (
        export_report_csv,
        export_report_json,
        format_report_console,
        report_to_csv,
    )

    if output:
        if fmt == "json":
            export_report_json(report, output)
        elif fmt == "csv":
            export_report_csv(report, output)
        else:
            with open(output, "w") as f:
                f.write(format_report_console(report))
        return
    if fmt == "json":
        print(json.dumps(report, indent=2, default=str))
    elif fmt == "csv":
        print(report_to_csv(report))
    else:
        print(format_report_console(report))


def cmd_run(args) -> int:
    from sqlserver_pg_cdc_spark.operators.diff import diff_tables
    from sqlserver_pg_cdc_spark.operators.repair import generate_repair_script
    from sqlserver_pg_cdc_spark.operators.report import generate_report
    from sqlserver_pg_cdc_spark.runner import ParallelReconciler, reconcile_table
    from sqlserver_pg_cdc_spark.session import get_spark
    from sqlserver_pg_cdc_spark.sources.parquet import load_table

    spark = get_spark("reconcile-cli")
    tables = _table_list(args)
    metrics = None
    if getattr(args, "metrics_out", None):
        from sqlserver_pg_cdc_spark.metrics import ReconciliationMetrics

        metrics = ReconciliationMetrics()
    kwargs = dict(
        validate_checksums=args.validate_checksums,
        row_level=args.row_level,
        pk_cols=args.pk_columns,
    )

    tracker = None
    if getattr(args, "incremental", False):
        if not args.state_dir or not args.change_col:
            raise SystemExit("--incremental requires --state-dir and --change-col")
        from sqlserver_pg_cdc_spark.state import IncrementalStateTracker

        if args.parallel:
            raise SystemExit("--incremental and --parallel cannot be combined")
        tracker = IncrementalStateTracker(args.state_dir)
        kwargs["validate_checksums"] = True
        kwargs["change_col"] = args.change_col

    def _kwargs_for(src) -> dict:
        # a global --pk-columns / --change-col only applies to tables that
        # carry those columns; others degrade gracefully (no row-level
        # diff / full instead of delta checksum)
        kw = kwargs
        if kw["pk_cols"] and not set(kw["pk_cols"]) <= set(src.columns):
            kw = {**kw, "pk_cols": None, "row_level": False}
        if kw.get("change_col") and kw["change_col"] not in src.columns:
            kw = {**kw, "change_col": None}
        return kw

    if args.parallel:
        rec = ParallelReconciler(spark, max_workers=args.parallel_workers,
                                 metrics=metrics)

        def _pair(t):
            return (load_table(spark, args.source_dir, t),
                    load_table(spark, args.target_dir, t))

        # split by pk applicability (schema read = parquet footer, cheap)
        with_pk, without_pk = [], []
        for t in tables:
            src = load_table(spark, args.source_dir, t)
            (with_pk if kwargs["pk_cols"] and set(kwargs["pk_cols"]) <= set(src.columns)
             else without_pk).append(t)
        results = []
        for group, gk in (
            (with_pk, kwargs),
            (without_pk, {**kwargs, "pk_cols": None, "row_level": False}),
        ):
            if not group:
                continue
            pairs = {t: (lambda t=t: _pair(t)) for t in group}
            results.extend(
                r.result if r.status == "success" else {"table": r.table, "match": False,
                                                        "error": r.error}
                for r in rec.reconcile_tables(pairs, **gk)
            )
    else:
        results = []
        for t in tables:
            # per-table error capture (reference scheduler/jobs.py:129):
            # one broken table degrades the report, not the whole run
            t0 = time.time()
            try:
                src = load_table(spark, args.source_dir, t)
                tgt = load_table(spark, args.target_dir, t)
                kw = _kwargs_for(src)
                if tracker is not None:
                    prior = tracker.load(t)
                    kw = {**kw, "since": prior.last_run if prior else None}
                res = reconcile_table(src, tgt, t, **kw)
                if tracker is not None:
                    tracker.record_run(
                        t,
                        res.get("source_checksum", ""),
                        res.get("source_count", 0),
                        mode=res.get("checksum_mode", "full"),
                    )
                results.append(res)
                if metrics is not None:
                    metrics.record_run(t, "success", time.time() - t0, res)
            except Exception as e:  # noqa: BLE001
                results.append(
                    {"table": t, "match": False, "error": f"{type(e).__name__}: {e}"}
                )
                if metrics is not None:
                    metrics.record_run(t, "failed", time.time() - t0, None)

    report = generate_report(results)
    _emit(report, args.format, args.output)
    if metrics is not None:
        with open(args.metrics_out, "w") as f:
            f.write(metrics.render_text())

    if args.generate_repair:
        if not args.pk_columns:
            raise SystemExit("--generate-repair requires --pk-columns")
        for t in tables:
            src = load_table(spark, args.source_dir, t)
            tgt = load_table(spark, args.target_dir, t)
            if not set(args.pk_columns) <= set(src.columns):
                print(f"-- skipping repair for {t}: pk columns not present", file=sys.stderr)
                continue
            d = diff_tables(src, tgt, args.pk_columns, include_values=True)
            script = generate_repair_script(
                d, args.pk_columns, t, dialect=args.repair_dialect
            )
            path = (
                args.generate_repair
                if len(tables) == 1
                else f"{args.generate_repair}.{t}.sql"
            )
            with open(path, "w") as f:
                f.write(script)

    return 1 if report["status"] == "FAIL" else 0


def cmd_report(args) -> int:
    with open(args.report_path) as f:
        report = json.load(f)
    _emit(report, args.format, None)
    return 0


def cmd_schedule(args) -> int:
    """Interval scheduler (reference O3, scheduler/scheduler.py) — a thin
    loop around cmd_run writing timestamped reports; cron/Airflow is the
    production analog."""
    os.makedirs(args.output_dir, exist_ok=True)
    runs = 0
    while True:
        ts = time.strftime("%Y%m%d_%H%M%S")
        ns = argparse.Namespace(
            source_dir=args.source_dir,
            target_dir=args.target_dir,
            tables=args.tables,
            tables_file=None,
            validate_checksums=args.validate_checksums,
            row_level=False,
            pk_columns=None,
            generate_repair=None,
            repair_dialect="postgresql",
            parallel=False,
            parallel_workers=4,
            format="json",
            output=os.path.join(args.output_dir, f"reconcile_{ts}.json"),
        )
        cmd_run(ns)
        runs += 1
        if args.max_runs and runs >= args.max_runs:
            return 0
        time.sleep(args.interval_seconds)


def cmd_stream(args) -> int:
    """Drain the spool through the CDC apply chain (availableNow — rerun
    on a schedule or swap the trigger for continuous tailing)."""
    from pyspark.sql import types as T

    from sqlserver_pg_cdc_spark.session import get_spark
    from sqlserver_pg_cdc_spark.streaming.pipeline import CdcPipeline

    spark = get_spark("cdc-stream-cli")
    sink = None
    if getattr(args, "partitions", 0):
        if args.transactional:
            raise SystemExit(
                "--partitions and --transactional are mutually exclusive "
                "(the transactional sink keeps a one-partition state)"
            )
        from sqlserver_pg_cdc_spark.streaming.apply import (
            PartitionedParquetUpsertSink,
        )

        sink = PartitionedParquetUpsertSink(
            spark,
            args.target_dir,
            args.pk_columns,
            dlq_dir=args.dlq_dir,
            n_partitions=args.partitions,
        )
    pipe = CdcPipeline(
        spark,
        source_dir=args.spool_dir,
        target_dir=args.target_dir,
        checkpoint_dir=args.checkpoint_dir,
        payload_schema=T.StructType.fromDDL(args.payload_schema),
        pk_cols=args.pk_columns,
        dlq_dir=args.dlq_dir,
        stale_hours=args.stale_hours,
        sink=sink,
        transactional=args.transactional,
    )
    pipe.run_available_now(max_files_per_trigger=args.max_files_per_trigger)
    t = pipe.target()
    n = t.count() if t is not None else 0
    print(json.dumps({"applied_target_rows": n, "target_dir": args.target_dir}))
    return 0


def cmd_corpus(args) -> int:
    """The LLM-pipeline dedup flow end-to-end: MinHash-LSH candidates ->
    exact-Jaccard verify -> connected components -> one survivor per
    cluster; the keep list is every document minus non-surviving cluster
    members. All distributed — the only driver values are the stats."""
    from pyspark.sql import functions as F

    from sqlserver_pg_cdc_spark.operators.dedup import (
        dup_components,
        minhash_jaccard_verified_pairs,
    )
    from sqlserver_pg_cdc_spark.session import get_spark

    spark = get_spark("corpus-dedup-cli")
    docs = spark.read.parquet(args.input)
    if getattr(args, "substring", False):
        # exact-substring mode: strip recurring k-token spans from every
        # document instead of dropping whole near-dup documents
        from sqlserver_pg_cdc_spark.operators.corpus import (
            duplicate_spans,
            strip_duplicate_spans,
        )

        spans = duplicate_spans(
            docs, args.id_col, args.text_col,
            k=args.span_tokens, min_docs=args.min_docs,
        )
        cleaned = strip_duplicate_spans(docs, spans, args.id_col, args.text_col)
        out = (
            docs.drop(args.text_col)
            .join(
                cleaned.select(
                    args.id_col,
                    F.col("clean_text").alias(args.text_col),
                    "n_tokens",
                    "n_removed",
                ),
                args.id_col,
            )
        )
        out.write.mode("overwrite").parquet(args.output)
        agg = out.agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("n_removed").alias("removed"),
        ).collect()[0]
        stats = {
            "input_docs": int(agg["docs"]),
            "total_tokens": int(agg["tokens"] or 0),
            "removed_tokens": int(agg["removed"] or 0),
            "span_tokens": args.span_tokens,
            "min_docs": args.min_docs,
        }
        print(json.dumps(stats))
        if args.stats_out:
            with open(args.stats_out, "w") as f:
                json.dump(stats, f)
        return 0
    pairs = minhash_jaccard_verified_pairs(
        docs, args.id_col, args.text_col, threshold=args.threshold
    )
    comp = dup_components(pairs)
    drop = comp.filter(~F.col("keep")).select(F.col("doc").alias(args.id_col))
    kept = docs.join(drop, args.id_col, "left_anti")
    kept.write.mode("overwrite").parquet(args.output)

    n_in = docs.count()
    n_out = spark.read.parquet(args.output).count()
    n_clusters = comp.filter(F.col("keep")).count()
    stats = {
        "input_docs": n_in,
        "kept_docs": n_out,
        "removed_docs": n_in - n_out,
        "dup_clusters": n_clusters,
        "threshold": args.threshold,
    }
    print(json.dumps(stats))
    if args.stats_out:
        with open(args.stats_out, "w") as f:
            json.dump(stats, f, indent=2)
    return 0


def _cmd_decontam_streaming(args) -> int:
    """Streaming decontamination gate: the eval set is a CHANGE STREAM.
    --eval-ingest upserts an eval batch into the gram index (updates
    replace a benchmark's grams atomically; --deleted-col retires it);
    otherwise --input is a CORPUS batch gated against the index's
    CURRENT state — accepted docs to --output, quarantined (with
    contamination evidence) to --quarantine-out, both exactly-once per
    batch id."""
    import glob
    import os

    from sqlserver_pg_cdc_spark.session import get_spark
    from sqlserver_pg_cdc_spark.streaming.decontam import (
        DecontamGate,
        EvalGramIndexSink,
    )

    spark = get_spark("decontam-cli")
    if args.compact_logs is not None:
        from sqlserver_pg_cdc_spark.streaming.batchlog import (
            compact_batch_log,
        )

        if not args.output or not args.quarantine_out:
            raise SystemExit(
                "--compact-logs needs --output and --quarantine-out"
            )
        print(json.dumps({
            "accepted": compact_batch_log(
                spark, args.output, args.compact_logs
            ),
            "quarantine": compact_batch_log(
                spark, args.quarantine_out, args.compact_logs
            ),
        }))
        return 0
    if args.semantic:
        from sqlserver_pg_cdc_spark.streaming.ann import AnnIndexSink

        sink = AnnIndexSink(
            spark, args.eval_state_dir, args.id_col, args.text_col,
            lsn_col=args.lsn_col, deleted_col=args.deleted_col,
            dim=args.dim, n_partitions=args.partitions,
        )
    else:
        sink = EvalGramIndexSink(
            spark, args.eval_state_dir, args.id_col, args.text_col,
            k=args.k, lsn_col=args.lsn_col, deleted_col=args.deleted_col,
            n_partitions=args.partitions,
        )
    batch = spark.read.parquet(args.input)
    if args.eval_ingest:
        bid = args.batch_id if args.batch_id is not None else 0
        sink(batch, bid)
        if args.semantic:
            v = sink.vectors()
            n = v.count() if v is not None else 0
            print(json.dumps({
                "eval_state_dir": args.eval_state_dir,
                "live_eval_vectors": n,
            }))
        else:
            g = sink.grams()
            print(json.dumps({
                "eval_state_dir": args.eval_state_dir,
                "live_eval_grams": g.count() if g is not None else 0,
            }))
        return 0
    if not args.quarantine_out:
        raise SystemExit("corpus gating requires --quarantine-out")
    if args.semantic:
        from sqlserver_pg_cdc_spark.streaming.decontam import (
            SemanticDecontamGate,
        )

        gate = SemanticDecontamGate(
            sink, args.output, args.quarantine_out,
            threshold=args.threshold,
        )
    else:
        gate = DecontamGate(
            sink, args.output, args.quarantine_out, min_hits=args.min_hits
        )
    bid = args.batch_id
    if bid is None:
        # next UNUSED id past any compaction watermark (counting batch_*
        # dirs alone would reuse a folded id, whose rows readers ignore)
        from sqlserver_pg_cdc_spark.streaming.batchlog import (
            _batch_dirs,
            _read_meta,
        )

        ids = []
        wm = -1
        if os.path.isdir(args.output):
            ids = [b for b, _ in _batch_dirs(args.output)]
            meta = _read_meta(args.output)
            if meta is not None:
                wm = int(meta["watermark_batch_id"])
        bid = max(ids + [wm]) + 1 if (ids or wm >= 0) else 0
    gate(batch, int(bid))
    acc = gate.accepted()
    qlog = gate.quarantine_log()
    out = {
        "batch_id": int(bid),
        "accepted_total": acc.count() if acc is not None else 0,
        "quarantined_total": qlog.count() if qlog is not None else 0,
    }
    if args.retain_batches is not None:
        from sqlserver_pg_cdc_spark.streaming.batchlog import (
            retain_batches,
        )

        out["retention"] = {
            "accepted": retain_batches(
                spark, args.output, args.retain_batches
            ),
            "quarantine": retain_batches(
                spark, args.quarantine_out, args.retain_batches
            ),
        }
    print(json.dumps(out))
    return 0


def cmd_decontam(args) -> int:
    """Benchmark-decontamination flow: flag corpus docs sharing k-grams
    with the eval set, write the clean subset (and optionally the full
    per-doc report). Distributed end to end; only stats hit the driver.
    With --eval-state-dir, runs the STREAMING gate instead (the eval set
    as a change stream)."""
    from pyspark.sql import functions as F

    from sqlserver_pg_cdc_spark.operators.decontam import decontaminate
    from sqlserver_pg_cdc_spark.session import get_spark

    if args.eval_state_dir:
        if not args.eval_ingest and not args.output:
            raise SystemExit("corpus gating requires --output")
        return _cmd_decontam_streaming(args)
    if not args.eval_set or not args.output:
        raise SystemExit("batch mode requires --eval-set and --output")
    spark = get_spark("decontam-cli")
    corpus = spark.read.parquet(args.input)
    eval_df = spark.read.parquet(args.eval_set)
    report = decontaminate(
        corpus, eval_df, args.id_col, args.text_col,
        k=args.k, min_hits=args.min_hits,
    )
    if args.report_out:
        report.write.mode("overwrite").parquet(args.report_out)
        report = spark.read.parquet(args.report_out)  # reuse, not recompute
    contaminated = report.filter(F.col("contaminated")).select(
        F.col(args.id_col)
    )
    clean = corpus.join(contaminated, args.id_col, "left_anti")
    clean.write.mode("overwrite").parquet(args.output)

    n_in = corpus.count()
    n_out = spark.read.parquet(args.output).count()
    stats = {
        "input_docs": n_in,
        "clean_docs": n_out,
        "contaminated_docs": n_in - n_out,
        "k": args.k,
        "min_hits": args.min_hits,
    }
    print(json.dumps(stats))
    if args.stats_out:
        with open(args.stats_out, "w") as f:
            json.dump(stats, f, indent=2)
    return 0


def cmd_rollup(args) -> int:
    """One scheduled refresh of a materialized continuous aggregate:
    scan ONLY the delta, build its state, merge it into the persisted
    state (one manifest commit), optionally emit the finalized
    aggregate. Run per new partition — history is never re-read.
    ``--idempotent`` skips a refresh whose ``--batch-id`` is at or below
    the committed one, so it needs an explicit id per refresh."""
    from sqlserver_pg_cdc_spark.session import get_spark
    from sqlserver_pg_cdc_spark.streaming.rollup import ContinuousAggSink

    if args.idempotent and args.batch_id is None:
        raise SystemExit(
            "--idempotent needs --batch-id: without an increasing id per "
            "refresh, every refresh after the first would be skipped"
        )
    spark = get_spark("rollup-cli")
    if getattr(args, "partitions", 0):
        from sqlserver_pg_cdc_spark.streaming.rollup import (
            PartitionedContinuousAggSink,
        )

        sink = PartitionedContinuousAggSink(
            spark,
            args.state_dir,
            args.key_columns,
            args.value_col,
            idempotent=args.idempotent,
            n_partitions=args.partitions,
        )
    else:
        sink = ContinuousAggSink(
            spark,
            args.state_dir,
            args.key_columns,
            args.value_col,
            idempotent=args.idempotent,
        )
    delta = spark.read.parquet(args.input)
    sink(delta, args.batch_id if args.batch_id is not None else 0)
    result = sink.result()
    n = result.count() if result is not None else 0
    if args.output and result is not None:
        result.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"groups": n, "state_dir": args.state_dir}))
    return 0


def cmd_sketch(args) -> int:
    """Maintain a count-min sketch: merge the input occurrences into
    the persisted sketch (state bounded at d*w cells forever), then
    optionally answer point queries for a candidate list."""
    from sqlserver_pg_cdc_spark.session import get_spark
    from sqlserver_pg_cdc_spark.streaming.rollup import CmsSink

    spark = get_spark("sketch-cli")
    sink = CmsSink(spark, args.state_dir, args.item_col)
    sink(spark.read.parquet(args.input), 0)
    state = sink.read_target()
    n_cells = state.count() if state is not None else 0
    result = {"state_dir": args.state_dir, "cells": n_cells}
    if args.estimate:
        if not args.output:
            raise SystemExit("--estimate requires --output")
        est = sink.estimate(spark.read.parquet(args.estimate))
        est.write.mode("overwrite").parquet(args.output)
        result["estimated_items"] = spark.read.parquet(args.output).count()
    print(json.dumps(result))
    return 0


def cmd_ann(args) -> int:
    """Maintain the streaming ANN index: upsert an ingest batch (only
    touched partitions rewrite; re-ingested ids atomically replace
    their band keys), then optionally run a near-dup probe against the
    current index state."""
    from pyspark.sql import functions as F

    from sqlserver_pg_cdc_spark.session import get_spark
    from sqlserver_pg_cdc_spark.streaming.ann import AnnIndexSink

    spark = get_spark("ann-cli")
    if args.mode == "ivf":
        return _cmd_ann_ivf(spark, args)
    if args.mode == "pq":
        return _cmd_ann_pq(spark, args)
    if args.mode == "ivfpq":
        return _cmd_ann_ivfpq(spark, args)
    sink = AnnIndexSink(
        spark, args.state_dir, args.id_col, args.vec_col,
        bands=args.bands, planes_per_band=args.planes_per_band,
        dim=args.dim, n_partitions=args.partitions,
    )
    if args.ingest:
        lsn = args.lsn
        if lsn is None:
            st = sink.read_target()
            lsn = 0 if st is None else (
                (st.agg(F.max("lsn")).collect()[0][0] or 0) + 1
            )
        sink(spark.read.parquet(args.ingest), int(lsn))
    vecs = sink.vectors()
    result = {
        "state_dir": args.state_dir,
        "indexed_vectors": vecs.count() if vecs is not None else 0,
    }
    if args.query:
        if not args.output:
            raise SystemExit("--query requires --output")
        pairs = sink.near_dups(
            spark.read.parquet(args.query), threshold=args.threshold
        )
        if pairs is None:
            raise SystemExit("index is empty: ingest before querying")
        pairs.write.mode("overwrite").parquet(args.output)
        result["near_dup_pairs"] = spark.read.parquet(args.output).count()
    print(json.dumps(result))
    return 0


def _cmd_ann_ivf(spark, args) -> int:
    """IVF mode: centroids live with the state as its epoch — trained
    once from the first ingest (--train-cells) and reloaded on every
    later open, so the IvfIndexSink epoch guard always sees the same
    cells. Queries write exact-within-probed-cells top-k."""
    import os

    from pyspark.sql import functions as F

    from sqlserver_pg_cdc_spark.operators.similarity import train_ivf_centroids
    from sqlserver_pg_cdc_spark.streaming.ann import IvfIndexSink

    cdir = os.path.join(args.state_dir, "__centroids.parquet")
    if os.path.isdir(cdir):
        cents = spark.read.parquet(cdir)
    elif args.ingest and args.train_cells:
        cents = train_ivf_centroids(
            spark.read.parquet(args.ingest), args.vec_col,
            n_cells=args.train_cells,
        )
        os.makedirs(args.state_dir, exist_ok=True)
        cents.write.mode("overwrite").parquet(cdir)
        cents = spark.read.parquet(cdir)  # reload: exact stored floats
    else:
        raise SystemExit(
            "ivf mode needs an existing epoch (state dir with "
            "__centroids.parquet) or --ingest with --train-cells"
        )
    sink = IvfIndexSink(
        spark, args.state_dir, args.id_col, args.vec_col, cents,
        n_partitions=args.partitions,
    )
    if args.ingest:
        lsn = args.lsn
        if lsn is None:
            st = sink.read_target()
            lsn = 0 if st is None else (
                (st.agg(F.max("lsn")).collect()[0][0] or 0) + 1
            )
        sink(spark.read.parquet(args.ingest), int(lsn))
    a = sink.assigned()
    result = {
        "state_dir": args.state_dir,
        "mode": "ivf",
        "indexed_vectors": a.count() if a is not None else 0,
        "n_cells": cents.count(),
    }
    if args.capture_baseline:
        result["baseline_mean_cos"] = sink.capture_baseline()
    if args.drift is not None:
        result["drift"] = sink.drift(tolerance=args.drift)
    if args.rotate_to:
        fresh = sink.rotate_epoch(args.rotate_to)
        # persist the new epoch's centroids beside its state so a later
        # `ann --mode ivf --state-dir NEW_DIR` reopen reloads the same
        # cells the epoch guard was stamped with (doubles roundtrip
        # parquet exactly)
        fresh.centroids().write.mode("overwrite").parquet(
            os.path.join(args.rotate_to, "__centroids.parquet")
        )
        fa = fresh.assigned()
        result["rotated_to"] = args.rotate_to
        result["new_epoch_vectors"] = fa.count() if fa is not None else 0
    if args.query:
        if not args.output:
            raise SystemExit("--query requires --output")
        topk = sink.topk(
            spark.read.parquet(args.query), k=args.k, n_probe=args.n_probe
        )
        if topk is None:
            raise SystemExit("index is empty: ingest before querying")
        topk.write.mode("overwrite").parquet(args.output)
        result["topk_rows"] = spark.read.parquet(args.output).count()
    print(json.dumps(result))
    return 0


def _cmd_ann_pq(spark, args) -> int:
    """PQ mode: codebooks live with the state as its epoch — trained
    per-subspace from the first ingest (--train-codes) and reloaded on
    every later open, so the PqIndexSink epoch guard always sees the
    same books (json float roundtrip is repr-exact). Queries write
    ADC top-k with exact re-rank; --capture-baseline/--drift/--rotate-to
    run the codebook staleness discipline."""
    import os

    from pyspark.sql import functions as F

    from sqlserver_pg_cdc_spark.operators.similarity import train_pq_codebooks
    from sqlserver_pg_cdc_spark.streaming.ann import PqIndexSink

    bpath = os.path.join(args.state_dir, "__codebooks.json")
    if os.path.exists(bpath):
        with open(bpath) as f:
            books = json.load(f)
    elif args.ingest and args.train_codes:
        books = train_pq_codebooks(
            spark.read.parquet(args.ingest), args.vec_col,
            m_sub=args.m_sub, k_codes=args.train_codes,
        )
        if not books:
            raise SystemExit("--ingest holds no non-NULL vectors to train on")
        os.makedirs(args.state_dir, exist_ok=True)
        with open(bpath, "w") as f:
            json.dump([[list(cw) for cw in book] for book in books], f)
        with open(bpath) as f:
            books = json.load(f)  # reload: the floats the guard will see
    else:
        raise SystemExit(
            "pq mode needs an existing epoch (state dir with "
            "__codebooks.json) or --ingest with --train-codes"
        )
    sink = PqIndexSink(
        spark, args.state_dir, args.id_col, args.vec_col, books,
        n_partitions=args.partitions,
    )
    if args.ingest:
        lsn = args.lsn
        if lsn is None:
            st = sink.read_target()
            lsn = 0 if st is None else (
                (st.agg(F.max("lsn")).collect()[0][0] or 0) + 1
            )
        sink(spark.read.parquet(args.ingest), int(lsn))
    codes = sink.codes()
    result = {
        "state_dir": args.state_dir,
        "mode": "pq",
        "indexed_vectors": codes.count() if codes is not None else 0,
        "m_sub": len(books),
        "k_codes": len(books[0]),
    }
    if args.capture_baseline:
        result["baseline_mean_cos"] = sink.capture_baseline()
    if args.drift is not None:
        result["drift"] = sink.drift(tolerance=args.drift)
    if args.rotate_to:
        fresh = sink.rotate_epoch(args.rotate_to)
        with open(os.path.join(args.rotate_to, "__codebooks.json"), "w") as f:
            json.dump([[list(cw) for cw in book] for book in fresh.books], f)
        fc = fresh.codes()
        result["rotated_to"] = args.rotate_to
        result["new_epoch_vectors"] = fc.count() if fc is not None else 0
    if args.query:
        if not args.output:
            raise SystemExit("--query requires --output")
        topk = sink.topk(
            spark.read.parquet(args.query), k=args.k, refine=args.refine
        )
        if topk is None:
            raise SystemExit("index is empty: ingest before querying")
        topk.write.mode("overwrite").parquet(args.output)
        result["topk_rows"] = spark.read.parquet(args.output).count()
    print(json.dumps(result))
    return 0


def _cmd_ann_ivfpq(spark, args) -> int:
    """IVF-PQ mode: the composite 100 TB index — coarse cells over
    product-quantized residuals. BOTH halves of the epoch live with the
    state (__centroids.parquet + __codebooks.json), trained from the
    first ingest (--train-cells + --train-codes: k-means cells, then
    per-subspace k-means on the cell residuals) and reloaded on every
    later open so the IvfPqIndexSink sha-guard always sees the same
    epoch. Queries write cell-pruned ADC top-k with exact re-rank;
    --capture-baseline/--drift/--rotate-to run the staleness discipline
    over the composite (reconstruction = centroid + dequantized
    residual)."""
    import os

    from pyspark.sql import functions as F

    from sqlserver_pg_cdc_spark.functions.vectors import vsub
    from sqlserver_pg_cdc_spark.operators.similarity import (
        train_ivf_centroids,
        train_pq_codebooks,
        with_ivf_cell,
    )
    from sqlserver_pg_cdc_spark.streaming.ann import IvfPqIndexSink

    cdir = os.path.join(args.state_dir, "__centroids.parquet")
    bpath = os.path.join(args.state_dir, "__codebooks.json")
    have_cents, have_books = os.path.isdir(cdir), os.path.exists(bpath)
    if have_cents and have_books:
        cents = spark.read.parquet(cdir)
        with open(bpath) as f:
            books = json.load(f)
    elif args.ingest and args.train_cells and args.train_codes:
        vecs = spark.read.parquet(args.ingest)
        cents = train_ivf_centroids(
            vecs, args.vec_col, n_cells=args.train_cells
        )
        os.makedirs(args.state_dir, exist_ok=True)
        cents.write.mode("overwrite").parquet(cdir)
        cents = spark.read.parquet(cdir)  # reload: exact stored floats
        # residual books: assign the ingest batch to the STORED cells,
        # train per-subspace k-means on (v - centroid)
        assigned, _ = with_ivf_cell(
            vecs, args.id_col, args.vec_col, centroids=cents
        )
        cvt = cents.select("cell_id", F.col("cv").alias("__cv"))
        resid = assigned.join(F.broadcast(cvt), "cell_id").select(
            vsub("v", "__cv").alias("r")
        )
        books = train_pq_codebooks(
            resid, "r", m_sub=args.m_sub, k_codes=args.train_codes
        )
        if not books:
            raise SystemExit("--ingest holds no non-NULL vectors to train on")
        with open(bpath, "w") as f:
            json.dump([[list(cw) for cw in book] for book in books], f)
        with open(bpath) as f:
            books = json.load(f)  # reload: the floats the guard will see
    else:
        raise SystemExit(
            "ivfpq mode needs an existing epoch (state dir with "
            "__centroids.parquet AND __codebooks.json) or --ingest with "
            "--train-cells and --train-codes"
        )
    sink = IvfPqIndexSink(
        spark, args.state_dir, args.id_col, args.vec_col, cents, books,
        n_partitions=args.partitions,
    )
    if args.ingest:
        lsn = args.lsn
        if lsn is None:
            st = sink.read_target()
            lsn = 0 if st is None else (
                (st.agg(F.max("lsn")).collect()[0][0] or 0) + 1
            )
        sink(spark.read.parquet(args.ingest), int(lsn))
    codes = sink.codes()
    result = {
        "state_dir": args.state_dir,
        "mode": "ivfpq",
        "indexed_vectors": codes.count() if codes is not None else 0,
        "n_cells": cents.count(),
        "m_sub": len(books),
        "k_codes": len(books[0]),
    }
    if args.capture_baseline:
        result["baseline_mean_cos"] = sink.capture_baseline()
    if args.drift is not None:
        result["drift"] = sink.drift(tolerance=args.drift)
    if args.rotate_to:
        fresh = sink.rotate_epoch(args.rotate_to)
        # persist BOTH halves of the new epoch beside its state so a
        # later reopen reloads exactly what the sha-guard was stamped
        # with (doubles roundtrip parquet exactly; json repr-exact)
        fresh.centroids().write.mode("overwrite").parquet(
            os.path.join(args.rotate_to, "__centroids.parquet")
        )
        with open(os.path.join(args.rotate_to, "__codebooks.json"), "w") as f:
            json.dump([[list(cw) for cw in book] for book in fresh.books], f)
        fc = fresh.codes()
        result["rotated_to"] = args.rotate_to
        result["new_epoch_vectors"] = fc.count() if fc is not None else 0
    if args.query:
        if not args.output:
            raise SystemExit("--query requires --output")
        topk = sink.topk(
            spark.read.parquet(args.query), k=args.k,
            n_probe=args.n_probe, refine=args.refine,
        )
        if topk is None:
            raise SystemExit("index is empty: ingest before querying")
        topk.write.mode("overwrite").parquet(args.output)
        result["topk_rows"] = spark.read.parquet(args.output).count()
    print(json.dumps(result))
    return 0


def cmd_gate(args) -> int:
    """One gate invocation = one micro-batch through the ingest-time
    dedup gate: probe against the standing index, cluster within the
    batch, index the survivors, log the rejects under this batch id.
    Re-running with the SAME --batch-id is a replay (the dup-log
    generation is overwritten, the LSN-guarded upsert converges)."""
    import glob
    import os

    from sqlserver_pg_cdc_spark.session import get_spark

    spark = get_spark("gate-cli")
    if args.compact_dups is not None:
        from sqlserver_pg_cdc_spark.streaming.batchlog import (
            compact_batch_log,
        )

        res = compact_batch_log(spark, args.dups_dir, args.compact_dups)
        print(json.dumps({"dups_dir": args.dups_dir, **res}))
        return 0
    if not args.ingest:
        if args.retain_batches is not None:
            from sqlserver_pg_cdc_spark.streaming.batchlog import (
                retain_batches,
            )

            res = retain_batches(spark, args.dups_dir, args.retain_batches)
            print(json.dumps({"dups_dir": args.dups_dir, **res}))
            return 0
        print("gate: --ingest is required unless --compact-dups or "
              "--retain-batches",
              file=sys.stderr)
        return 2
    common = dict(
        n_partitions=args.partitions,
        lsn_col=args.lsn_col,
        deleted_col=args.deleted_col,
    )
    if args.gate_bands is not None:
        common["bands"] = args.gate_bands
    if args.mode in ("image", "audio", "video", "auto"):
        from sqlserver_pg_cdc_spark.streaming.media import MediaDedupGateSink

        # fail fast on the wrong knob: a user tuning --threshold (the
        # text/embedding dial) would otherwise get default Hamming
        # gating with no warning; same for the text/embedding banding
        if args.threshold is not None:
            raise SystemExit(
                "--threshold is the text/embedding dial; media modes "
                "gate on fingerprint Hamming distance — use "
                "--max-hamming"
            )
        if args.gate_bands is not None:
            raise SystemExit(
                "--gate-bands does not apply to media modes: the "
                "7x9-bit fingerprint banding is structural"
            )
        common.pop("bands", None)  # banding is structural for fingerprints
        extra = {}
        if args.granularity != "clip":
            extra = {
                "granularity": args.granularity,
                "min_match_frames": args.min_match_frames,
            }
        gate = MediaDedupGateSink(
            spark, args.state_dir, args.dups_dir,
            args.id_col or "doc_id", args.content_col or "payload",
            media=args.mode, decoder=args.media_decoder,
            max_hamming=args.max_hamming, **extra, **common,
        )
    elif args.mode == "text":
        from sqlserver_pg_cdc_spark.streaming.minhash import DedupGateSink

        gate = DedupGateSink(
            spark, args.state_dir, args.dups_dir,
            args.id_col or "doc_id", args.content_col or "text",
            threshold=args.threshold if args.threshold is not None else 0.5,
            **common,
        )
    else:
        from sqlserver_pg_cdc_spark.streaming.ann import AnnGateSink

        if args.gate_planes is not None:
            common["planes_per_band"] = args.gate_planes
        if args.gate_dim is not None:
            common["dim"] = args.gate_dim
        gate = AnnGateSink(
            spark, args.state_dir, args.dups_dir,
            args.id_col or "vec_id", args.content_col or "embedding",
            threshold=args.threshold if args.threshold is not None else 0.95,
            **common,
        )
    from pyspark.sql import functions as F

    batch_id = args.batch_id
    if batch_id is None:
        # next UNUSED id, accounting for compaction: counting batch_*
        # dirs alone would re-issue an id the compactor folded away,
        # and readers ignore ids at/below the recorded watermark — the
        # new batch's log rows would silently vanish
        from sqlserver_pg_cdc_spark.streaming.batchlog import (
            _batch_dirs,
            _read_meta,
        )

        ids = []
        wm = -1
        if os.path.isdir(args.dups_dir):
            ids = [b for b, _ in _batch_dirs(args.dups_dir)]
            meta = _read_meta(args.dups_dir)
            if meta is not None:
                wm = int(meta["watermark_batch_id"])
        batch_id = max(ids + [wm]) + 1 if (ids or wm >= 0) else 0
    gate(spark.read.parquet(args.ingest), int(batch_id))
    log = gate.dup_log()
    this_batch = (
        0
        if log is None
        else log.filter(F.col("__batch_id") == int(batch_id)).count()
    )
    if args.mode == "text":
        surface = gate.shingles()
    elif args.mode == "embedding":
        surface = gate.vectors()
    else:
        surface = gate.fingerprints()
    result = {
        "state_dir": args.state_dir,
        "batch_id": int(batch_id),
        "rejected_this_batch": this_batch,
        "indexed_total": surface.count() if surface is not None else 0,
    }
    if args.retain_batches is not None:
        # periodic retention rides the same invocation: the gate batch
        # committed above, so the pass runs quiesced by construction
        from sqlserver_pg_cdc_spark.streaming.batchlog import (
            retain_batches,
        )

        result["retention"] = retain_batches(
            spark, args.dups_dir, args.retain_batches
        )
    print(json.dumps(result))
    return 0


def cmd_media(args) -> int:
    """Run one multimodal pass: the decode work happens in Arrow
    batches on the executors (mapInPandas); only row counts reach the
    driver. Corrupt payloads follow each codec's NULL-on-corrupt /
    drop convention rather than failing the job — at corpus scale
    damaged payloads are data, not errors."""
    from sqlserver_pg_cdc_spark.operators.multimodal import (
        audio_fingerprints,
        binary_features,
        decode_images,
        media_fingerprints,
        phash_images,
        phash_near_pairs,
        resample_audio,
        resize_images,
        sample_audio_frames,
        sample_video_frames,
        video_fingerprints,
        video_thumbnails,
    )
    from sqlserver_pg_cdc_spark.session import get_spark

    spark = get_spark("media-cli")
    df = spark.read.parquet(args.input)
    if args.partitions:
        df = df.repartition(args.partitions)
    if args.mode in ("phash", "afp", "vhash", "mfp", "vframe"):
        # cross-container fingerprints: identical pixels/samples hash
        # identically regardless of container (video: perceptually-
        # identical clips land within small Hamming); optional
        # banded-Hamming near-pair output (no all-pairs — the 7x9-bit
        # pigeonhole). mfp = mixed-media: per-row container sniff in
        # one pass, rows (doc_id, family, fp).
        from pyspark.sql import functions as F

        fp_col = {"phash": "phash", "afp": "afp", "vhash": "vhash",
                  "mfp": "fp", "vframe": "fhashes"}[args.mode]
        if args.mode == "mfp":
            fps = media_fingerprints(
                df, args.id_col, args.payload_col,
                stride=args.stride, max_frames=args.max_frames,
            )
        elif args.mode == "vframe":
            from sqlserver_pg_cdc_spark.operators.multimodal import (
                video_frame_fingerprints,
            )

            fps = video_frame_fingerprints(
                df, args.id_col, args.payload_col, decoder=args.decoder,
                stride=args.stride, max_frames=args.max_frames,
            )
        elif args.mode == "vhash":
            fps = video_fingerprints(
                df, args.id_col, args.payload_col, decoder=args.decoder,
                stride=args.stride, max_frames=args.max_frames,
            )
        else:
            fn = phash_images if args.mode == "phash" else audio_fingerprints
            fps = fn(df, args.id_col, args.payload_col, decoder=args.decoder)
        fps.write.mode("overwrite").parquet(args.output)
        fps = spark.read.parquet(args.output)
        result = {
            "mode": args.mode,
            "rows": fps.count(),
            "fingerprinted": fps.filter(
                F.col(fp_col).isNotNull()
            ).count(),
            "output": args.output,
        }
        if args.near_pairs:
            if args.mode == "vframe":
                from sqlserver_pg_cdc_spark.operators.multimodal import (
                    vframe_near_clip_pairs,
                )

                pairs = vframe_near_clip_pairs(
                    fps, id_col="doc_id", fhashes_col=fp_col,
                    max_hamming=args.max_hamming,
                    min_frames=args.min_match_frames,
                )
            elif args.mode == "mfp":
                # fingerprints are only comparable WITHIN a family: band
                # each family separately (3 cheap passes over a banded
                # join; a single pass would emit meaningless
                # cross-family pairs)
                fams = [
                    r["family"]
                    for r in fps.select("family").distinct().collect()
                    if r["family"] is not None
                ]
                pairs = None
                for fam in sorted(fams):
                    pp = phash_near_pairs(
                        fps.filter(F.col("family") == fam),
                        id_col="doc_id", hash_col=fp_col,
                        max_hamming=args.max_hamming,
                    ).withColumn("family", F.lit(fam))
                    pairs = pp if pairs is None else pairs.unionByName(pp)
                if pairs is None:
                    pairs = spark.createDataFrame(
                        [], "a long, b long, hamming long, family string"
                    )
            else:
                pairs = phash_near_pairs(
                    fps, id_col="doc_id", hash_col=fp_col,
                    max_hamming=args.max_hamming,
                )
            pairs.write.mode("overwrite").parquet(args.near_pairs)
            result["near_pairs"] = spark.read.parquet(
                args.near_pairs
            ).count()
            result["near_pairs_output"] = args.near_pairs
        print(json.dumps(result))
        return 0
    if args.mode == "features":
        out = binary_features(df, args.id_col, args.payload_col)
    elif args.mode == "image":
        out = decode_images(
            df, args.id_col, args.payload_col, decoder=args.decoder
        )
    elif args.mode == "audio":
        out = sample_audio_frames(
            df, args.id_col, args.payload_col,
            frame_ms=args.frame_ms, max_frames=args.max_frames,
            decoder=args.decoder if args.decoder != "auto" else "wav",
        )
    elif args.mode == "thumbnails":
        out = video_thumbnails(
            df, args.id_col, args.payload_col,
            width=args.width, height=args.height,
            stride=args.stride, max_frames=args.max_frames,
            decoder=args.decoder if args.decoder != "auto" else "mcv",
        )
    elif args.mode == "resample":
        out = resample_audio(
            df, args.id_col, args.payload_col, args.target_rate,
            decoder=args.decoder if args.decoder != "auto" else "wav",
        )
    elif args.mode == "resize":
        out = resize_images(
            df, args.id_col, args.payload_col,
            width=args.width, height=args.height,
            codec=args.decoder if args.decoder != "auto" else "bmp",
        )
    else:
        out = sample_video_frames(
            df, args.id_col, args.payload_col,
            fps=args.fps, stride=args.stride, max_frames=args.max_frames,
            decoder=args.decoder if args.decoder != "auto" else "mjpeg",
        )
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"mode": args.mode, "rows": n, "output": args.output}))
    return 0


def cmd_sample(args) -> int:
    """Deterministic corpus sampling: every mode derives the keep/drop
    decision from a content hash of the key, so the sample is a pure
    function of the data — reproducible across engines, partitionings,
    and re-runs (disjoint fractions give consistent train/holdout
    splits). All modes are one scan (+ one bounded shuffle for the
    per-group caps); nothing reaches the driver but counts."""
    from sqlserver_pg_cdc_spark.operators.sampling import (
        deterministic_sample,
        diversity_sample,
        stratified_sample,
        weighted_sample,
    )
    from sqlserver_pg_cdc_spark.session import get_spark

    spark = get_spark("sample-cli")
    df = spark.read.parquet(args.input)
    n_in = df.count()
    extra: dict = {}
    if args.mode == "deterministic":
        out = deterministic_sample(df, args.key_col, args.fraction)
    elif args.mode == "weighted":
        if not args.weight_col:
            raise SystemExit("--mode weighted requires --weight-col")
        out = weighted_sample(
            df, args.key_col, args.weight_col, args.fraction
        )
    elif args.mode == "stratified":
        if not args.strata:
            raise SystemExit("--mode stratified requires --strata")
        out = stratified_sample(
            df, list(args.strata), args.key_col, args.per_stratum
        )
    elif args.mode == "diversity-stream":
        # the streamed fold: the standing SELECTION is state; each CLI
        # invocation is one micro-batch, so a cron'd ingest keeps a
        # cluster-balanced corpus sample without ever rescanning
        from pyspark.sql import functions as F

        from sqlserver_pg_cdc_spark.streaming.diversity import (
            DiversitySampleSink,
        )

        if not args.state_dir:
            raise SystemExit("--mode diversity-stream requires --state-dir")
        sink = DiversitySampleSink(
            spark, args.state_dir, args.key_col, args.vec_col,
            quota=args.quota, n_cells=args.cells,
            n_partitions=args.partitions,
        )
        maintenance = (
            args.capture_baseline or args.drift is not None
            or args.rotate_to
        )
        if maintenance:
            # staleness discipline (the ann CLI contract): these run
            # INSTEAD of an ingest fold — --input is the rotation
            # corpus, not a batch
            if args.capture_baseline:
                extra["baseline_mean_cos"] = sink.capture_baseline()
            if args.drift is not None:
                extra["drift"] = sink.drift(tolerance=args.drift)
            if args.rotate_to:
                sink = sink.rotate_epoch(
                    args.rotate_to, docs=df,
                    n_cells=args.rotate_cells,
                )
                extra["rotated_to"] = args.rotate_to
                extra["baseline_mean_cos"] = sink.mean_assigned_cos()
        else:
            batch_id = args.batch_id
            if batch_id is None:
                st = sink.read_target()
                batch_id = (
                    0 if st is None
                    else (st.agg(F.max("lsn")).collect()[0][0] or 0) + 1
                )
            sink(df, int(batch_id))
        out = sink.selection()
    else:
        out = diversity_sample(
            df, args.key_col, args.vec_col,
            quota=args.quota, n_cells=args.cells,
        )
    out.write.mode("overwrite").parquet(args.output)
    n_out = spark.read.parquet(args.output).count()
    print(json.dumps(dict({
        "mode": args.mode, "rows_in": n_in, "rows_out": n_out,
        "output": args.output,
    }, **extra)))
    return 0


def cmd_pipeline(args) -> int:
    """One micro-batch through the composed ingest chain
    (`streaming/chain.ChainedGateSink`): stages validate up front,
    every stage stamps the same batch id, survivors hand off through
    each stage's exactly-once artifact, and the per-stage survivor
    counts + wall seconds come back as one JSON line. Re-running with
    an explicit --batch-id is a no-op at every stage (replay safety
    is the chain's contract, not a caller obligation)."""
    import os

    from pyspark.sql import functions as F

    from sqlserver_pg_cdc_spark.session import get_spark
    from sqlserver_pg_cdc_spark.streaming import phases
    from sqlserver_pg_cdc_spark.streaming.chain import (
        ChainedGateSink,
        DecontamStage,
        DiversityStage,
        GateStage,
    )

    known = ("text-dedup", "embedding-dedup", "media-dedup",
             "decontam", "diversity")
    stages = [s.strip() for s in args.stages.split(",") if s.strip()]
    bad = [s for s in stages if s not in known]
    if bad or not stages:
        raise SystemExit(
            f"--stages must be a comma list of {known}, each at most "
            f"once; got {args.stages!r}"
        )
    if len(set(stages)) != len(stages):
        raise SystemExit(f"duplicate stage in --stages: {args.stages!r}")
    if "decontam" in stages and not args.eval_state:
        raise SystemExit("--stages decontam requires --eval-state")

    spark = get_spark("pipeline-cli")
    root = args.state_root
    built = []
    for s in stages:
        if s == "text-dedup":
            from sqlserver_pg_cdc_spark.streaming.minhash import (
                DedupGateSink,
            )

            gate = DedupGateSink(
                spark,
                os.path.join(root, "text_dedup", "state"),
                os.path.join(root, "text_dedup", "dups"),
                args.id_col, args.text_col,
                threshold=args.threshold,
                num_hashes=args.num_hashes, bands=args.bands,
                n_partitions=args.partitions,
            )
            built.append(GateStage("text-dedup", gate, args.id_col))
        elif s == "embedding-dedup":
            from sqlserver_pg_cdc_spark.streaming.ann import AnnGateSink

            gate = AnnGateSink(
                spark,
                os.path.join(root, "embedding_dedup", "state"),
                os.path.join(root, "embedding_dedup", "dups"),
                args.id_col, args.vec_col,
                threshold=args.emb_threshold, dim=args.emb_dim,
                n_partitions=args.partitions,
            )
            built.append(GateStage("embedding-dedup", gate, args.id_col))
        elif s == "media-dedup":
            from sqlserver_pg_cdc_spark.streaming.media import (
                MediaDedupGateSink,
            )

            extra = {}
            if args.media_granularity != "clip":
                extra = {
                    "granularity": args.media_granularity,
                    "min_match_frames": args.media_min_frames,
                }
            gate = MediaDedupGateSink(
                spark,
                os.path.join(root, "media_dedup", "state"),
                os.path.join(root, "media_dedup", "dups"),
                args.id_col, args.payload_col,
                media=args.media, max_hamming=args.max_hamming,
                n_partitions=args.partitions, **extra,
            )
            built.append(GateStage("media-dedup", gate, args.id_col))
        elif s == "decontam":
            from sqlserver_pg_cdc_spark.streaming.decontam import (
                DecontamGate,
                EvalGramIndexSink,
            )

            eval_idx = EvalGramIndexSink(
                spark, args.eval_state, args.id_col, args.text_col,
                k=args.gram_k, n_partitions=args.partitions,
            )
            built.append(DecontamStage("decontam", DecontamGate(
                eval_idx,
                os.path.join(root, "decontam", "accepted"),
                os.path.join(root, "decontam", "quarantine"),
                min_hits=args.min_hits,
            )))
        else:
            from sqlserver_pg_cdc_spark.streaming.diversity import (
                DiversitySampleSink,
            )

            sink = DiversitySampleSink(
                spark,
                os.path.join(root, "diversity", "state"),
                args.id_col, args.vec_col,
                quota=args.quota, n_cells=args.cells,
                n_partitions=args.partitions,
            )
            built.append(
                DiversityStage("diversity", sink, args.id_col,
                               args.vec_col)
            )

    marker = os.path.join(root, "__pipeline_next_batch.json")
    next_id = 0
    if os.path.exists(marker):
        with open(marker) as f:
            next_id = int(json.load(f)["next_batch_id"])

    if args.retain_batches is not None:
        # day-2 retention for the WHOLE chain in one command: in the
        # chain every stage stamps lsn == batch id, so one N drives
        # the gate logs, the decontam generations, AND the diversity
        # tombstone horizon coherently
        from sqlserver_pg_cdc_spark.streaming.batchlog import (
            retain_batches,
        )

        retention: dict = {}
        for st in built:
            if isinstance(st, GateStage):
                retention[st.name] = {
                    "dups": retain_batches(
                        spark, st.gate.dups_dir, args.retain_batches
                    )
                }
            elif isinstance(st, DecontamStage):
                retention[st.name] = {
                    "accepted": retain_batches(
                        spark, st.gate.accepted_dir, args.retain_batches
                    ),
                    "quarantine": retain_batches(
                        spark, st.gate.quarantine_dir,
                        args.retain_batches,
                    ),
                }
            else:
                wm = next_id - 1 - args.retain_batches
                retention[st.name] = (
                    st.sink.purge_tombstones(wm, deleted_col="__del")
                    if wm >= 0
                    else {"skipped": "no batches past the horizon"}
                )
        print(json.dumps({
            "retain_batches": args.retain_batches,
            "stages": stages,
            "retention": retention,
        }))
        return 0

    if not args.input:
        raise SystemExit("--input is required unless --retain-batches")
    batch_id = args.batch_id if args.batch_id is not None else next_id

    chain = ChainedGateSink(spark, built)
    phases.reset(chain._GATE_NAME)
    df = spark.read.parquet(args.input)
    n_in = df.count()
    chain(df, int(batch_id))
    if args.batch_id is None:
        os.makedirs(root, exist_ok=True)
        with open(marker, "w") as f:
            json.dump({"next_batch_id": int(batch_id) + 1}, f)
    result = {
        "batch_id": int(batch_id),
        "rows_in": n_in,
        "stages": stages,
        "survivors": chain.last_batch["survivors"],
        "stage_wall_s": phases.snapshot(chain._GATE_NAME),
    }
    if args.output:
        # re-derive the final survivor frame from the stages' own
        # artifacts (the chain consumed it); cheapest: re-run the
        # handoff reads without re-gating
        out_df = df
        for st in built:
            if isinstance(st, GateStage):
                rejected = spark.read.parquet(
                    st.gate._dup_batch_dir(batch_id)
                ).select(F.col("doc").alias(args.id_col))
                out_df = out_df.join(rejected, args.id_col, "left_anti")
            elif isinstance(st, DecontamStage):
                out_df = spark.read.parquet(os.path.join(
                    st.gate.accepted_dir, f"batch_{int(batch_id)}"
                ))
        out_df.write.mode("overwrite").parquet(args.output)
        result["output"] = args.output
        result["rows_out"] = spark.read.parquet(args.output).count()
    print(json.dumps(result))
    return 0


def cmd_state(args) -> int:
    """Day-2 maintenance: open a sink state with the partition
    count its latest committed manifest version records (never guessed
    from a flag — a wrong count would mis-route every key), then purge
    and/or rescale."""
    from sqlserver_pg_cdc_spark.session import get_spark
    from sqlserver_pg_cdc_spark.streaming.apply import (
        PartitionedParquetUpsertSink,
    )

    n_current = PartitionedParquetUpsertSink.committed_partitions(
        args.state_dir
    )
    if n_current is None:
        raise SystemExit(
            f"{args.state_dir} has no committed _log/ manifest — not a "
            "sink state"
        )
    spark = get_spark("state-cli")
    result = {"state_dir": args.state_dir, "n_partitions": n_current}
    if args.scd2_prune_watermark is not None:
        from sqlserver_pg_cdc_spark.streaming.scd2 import PartitionedScd2Sink

        hist = PartitionedScd2Sink(
            spark, args.state_dir, list(args.pk),
            lsn_col=args.lsn_col, n_partitions=n_current,
        )
        result["prune"] = hist.prune_history(args.scd2_prune_watermark)
        if args.rescale is not None:
            hist.rescale(int(args.rescale))
            result["n_partitions"] = int(args.rescale)
            result["rescaled"] = True
        h = hist.history()
        result["rows"] = h.count() if h is not None else 0
        print(json.dumps(result))
        return 0
    sink = PartitionedParquetUpsertSink(
        spark, args.state_dir, list(args.pk),
        lsn_col=args.lsn_col, n_partitions=n_current,
    )
    if args.purge_watermark is not None:
        result["purge"] = sink.purge_tombstones(
            args.purge_watermark, deleted_col=args.deleted_col
        )
    if args.rescale is not None:
        sink.rescale(int(args.rescale))
        result["n_partitions"] = int(args.rescale)
        result["rescaled"] = True
    st = sink.read_target()
    result["rows"] = st.count() if st is not None else 0
    print(json.dumps(result))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = create_parser().parse_args(argv)
    if args.command == "run":
        return cmd_run(args)
    if args.command == "report":
        return cmd_report(args)
    if args.command == "schedule":
        return cmd_schedule(args)
    if args.command == "stream":
        return cmd_stream(args)
    if args.command == "corpus":
        return cmd_corpus(args)
    if args.command == "decontam":
        return cmd_decontam(args)
    if args.command == "rollup":
        return cmd_rollup(args)
    if args.command == "sketch":
        return cmd_sketch(args)
    if args.command == "ann":
        return cmd_ann(args)
    if args.command == "gate":
        return cmd_gate(args)
    if args.command == "state":
        return cmd_state(args)
    if args.command == "media":
        return cmd_media(args)
    if args.command == "sample":
        return cmd_sample(args)
    if args.command == "pipeline":
        return cmd_pipeline(args)
    return 2


if __name__ == "__main__":
    sys.exit(main())
