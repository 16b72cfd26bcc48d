"""The two workloads: a backfill through the production batch job, and a
closed-loop incremental landing drained by the streaming job.

Each workload has an untraced part, whose numbers are the end-to-end
metrics, and a traced part (``--trace 1`` only), run in a fresh Spark
context with the event log on, that times each layer separately.
"""

from __future__ import annotations

import inspect
import os
import time
import traceback
from statistics import median

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import replay
from check import STANDARD_PAGE_H, group_rows
from tracer import EventLog, RssSampler, read_event_log, steal_ticks
from onnxtr_spark import lineage
from onnxtr_spark.session import get_spark
from onnxtr_spark.stages.build import assemble_spans
from onnxtr_spark.stages.detect import DetectConfig
from onnxtr_spark.stages.fused import detect_recognize_pages
from onnxtr_spark.stages.ingest import media_from_documents
from onnxtr_spark.stages.pipeline import extract_spans, media_pages
from onnxtr_spark.streaming.extract_stream import DOCS_SCHEMA_DDL, stream_extract_available_now

SETUP_REPS = 3
WARM_GROUPS = 2  # warm-up job groups: with fewer, the timed job's first groups run slower
BACKFILL_PAGES = 240
STORE_EXTRA_PAGES = 240  # media-store pages no landing doc references
LAND_SMALL_DOCS = 24  # per landing batch: 24 one-page docs + one long doc
LAND_WARM = 8  # untimed warm-up batches: latency falls over the first ~8-10
LAND_MIN_BATCH_S = 1.0  # about the fastest batch seen on 4 vCPUs; caps the timed batches
LAND_TRACED = 4  # batches timed again in the traced context
REPLAY_PAGES = 64  # pages of the workload's own path replayed
VARIANT_PAGES = 16  # rotated / skewed pages replayed to time their kernels
EXTRACT_REPS = 3  # noop extractions whose median is subtracted from job / batch walls
JOB_GROUPS = inspect.signature(lineage.run_checkpointed).parameters["n_groups"].default

DOCS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
])


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    """State shared by one benchmark run."""

    def __init__(self, args, work: str, tracer, gate):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, args.trace
        self.work, self.tracer, self.gate = work, tracer, gate
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}
        self.notes: list[str] = []
        self.spark = None

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> float:
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def restart(self, event_log: bool) -> None:
        """Stop the context and start a new one with the event log on or
        off. The conf goes in as JVM system properties, which every new
        SparkConf loads, so the program's session factory is unchanged."""
        jvm = self.spark.sparkContext._jvm
        self.spark.stop()
        log_dir = self.path("eventlog")
        os.makedirs(log_dir, exist_ok=True)
        for key, value in (
            ("spark.eventLog.enabled", str(event_log).lower()),
            ("spark.eventLog.dir", "file://" + log_dir),
            ("spark.eventLog.compress", "false"),  # plain JSON lines, one file
            ("spark.eventLog.rolling.enabled", "false"),
        ):
            jvm.java.lang.System.setProperty(key, value)
        self.start_session()

    def read_docs(self, path: str):
        return self.spark.read.schema(DOCS_SCHEMA_DDL).parquet(path)

    def extract_s(self, docs_df, media) -> float:
        """Median wall of ``EXTRACT_REPS`` noop-sink extractions."""
        walls = []
        for _ in range(EXTRACT_REPS):
            with self.tracer.span("pipeline.extract_spans") as sp:
                noop(extract_spans(docs_df, media))
            walls.append(sp["end"] - sp["start"])
        return median(walls)

    def overhead_pass(self, docs_path: str, traced_s: float) -> None:
        """Tracing overhead: the traced pass's noop extraction against the
        same extraction in an untraced context started after it."""
        self.restart(event_log=False)
        media = self.spark.read.parquet(self.path("media"))
        docs_df = self.read_docs(docs_path)
        noop(extract_spans(docs_df, media))  # spawn the new context's workers
        self.layers["trace.overhead_frac"] = traced_s / self.extract_s(docs_df, media) - 1.0

    def setup(self, make_inputs) -> tuple:
        """Generate, render and write the inputs ``SETUP_REPS`` times;
        returns the last rep's generated inputs and the media. Pages taller
        than ``STANDARD_PAGE_H`` go to the gate."""
        session_s = self.layers["session.start_s"] = self.start_session()
        reps, renders = [], []
        for _ in range(SETUP_REPS):
            t1 = time.perf_counter()
            inputs = make_inputs()
            documents = self.spark.createDataFrame(inputs["documents"], "doc_id string, text string")
            t2 = time.perf_counter()
            media_from_documents(documents).write.mode("overwrite").parquet(self.path("media"))
            renders.append(time.perf_counter() - t2)
            if inputs.get("docs") is not None:
                self.spark.createDataFrame(inputs["docs"], DOCS_SCHEMA_DDL).write.mode("overwrite").parquet(
                    self.path("docs")
                )
            reps.append(time.perf_counter() - t1)
        self.metrics["setup_s"] = (session_s + median(reps), "s")
        self.layers["ingest.render_s"] = median(renders)
        self.notes.append(
            f"setup: session {session_s:.3f}s + median of {SETUP_REPS} input reps "
            + ", ".join(f"{r:.3f}" for r in reps) + " s"
        )
        media = self.spark.read.parquet(self.path("media"))
        blob = media.agg(F.sum(F.length("png")).alias("b"), F.count("*").alias("n")).collect()[0]
        self.layers["ingest.blob_bytes_per_page"] = blob["b"] / max(blob["n"], 1)
        tall = media.where(F.col("height") > STANDARD_PAGE_H).select("media_ref").collect()
        self.gate.tall_pages = {r["media_ref"] for r in tall}
        self.notes.append(f"{len(tall)} of {blob['n']} pages are taller than {STANDARD_PAGE_H} px")
        return inputs, media

    def timed_loop(self, step, n_docs: int, n_max: int) -> list[float]:
        """Call ``step(i)`` up to ``n_max`` times while whole calls fit in
        the measuring window (at least once); returns the seconds of each
        call that succeeded. A call that raises fails its ``n_docs`` docs
        and ends the window. The worker RSS sampler runs for the whole
        window."""
        durs: list[float] = []
        steal0 = steal_ticks()
        with RssSampler() as rss:
            t_start = time.perf_counter()
            while len(durs) < n_max:
                try:
                    durs.append(step(len(durs)))
                except Exception as e:  # noqa: BLE001 - a failed job or batch is a result
                    traceback.print_exc()
                    self.gate.fail_docs(n_docs, f"call {len(durs)} failed: {type(e).__name__}: {e}"[:500])
                    break
                if time.perf_counter() - t_start + median(durs) > self.seconds:
                    break
            window = time.perf_counter() - t_start
        if not durs:
            raise RuntimeError("no call in the measuring window succeeded")
        steal = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / (window * os.cpu_count())
        self.notes.append(f"timed window {window:.3f}s; CPU time stolen by the host: {100 * steal:.1f}%")
        self.metrics["worker_peak_rss_mb"] = (rss.peak_mb, "MB")
        self.notes.append(f"worker rss: {rss.samples} samples, peak {rss.peak_mb:.1f} MB")
        return durs

    def batch_metrics(self, lat: list[float], unit: str) -> None:
        """Median and tail of the batch latencies. The tail is the highest
        percentile with >= 10 samples beyond it. With 20 samples or fewer
        that percentile is at or below the median, so the tail reported is
        the maximum (p100) instead."""
        n = len(lat)
        if n > 20:
            tail, pct, beyond = sorted(lat)[n - 11], 100.0 * (n - 10) / n, 10
        else:
            tail, pct, beyond = max(lat), 100.0, 0
        self.metrics["batch_p50_s"] = (median(lat), "s")
        self.metrics["batch_tail_s"] = (tail, "s")
        self.notes.append(
            f"batch_tail_s is p{pct:.1f} ({beyond} samples beyond it) of {n} {unit} latencies: "
            + ", ".join(f"{x:.3f}" for x in lat) + " s"
        )

    # ------------------------------------------------------ traced layers

    def layer_pass(self, docs_df, media) -> dict:
        """Time media_pages, fused, assemble and the noop extraction on
        ``docs_df``; replay sampled pages; returns span records."""
        spark, tr = self.spark, self.tracer
        extract_s = self.extract_s(docs_df, media)
        with tr.span("pipeline.media_pages") as sp_pages:
            noop(media_pages(docs_df, media))
        pages = media_pages(docs_df, media).persist()
        n_pages = pages.count()
        acc = lineage.metrics_accumulator(spark)
        words = detect_recognize_pages(pages, metrics_acc=acc).persist()
        with tr.span("fused.detect_recognize_pages") as sp_fused:
            noop(words)
        with tr.span("build.assemble_spans") as sp_asm:
            noop(assemble_spans(docs_df, words))
        m = [sum(col) for col in zip(*[(r[1], r[2], r[3]) for r in acc.value])] or [0, 0, 0]
        self.layers.update({"fused.pages": m[0], "fused.boxes": m[1], "fused.words": m[2]})
        self.layers["detect.useful_box_frac"] = m[2] / max(m[1], 1)
        # replay: the workload's own path on its pages, then the rotated
        # and straightened paths on freshly rendered wide-cell pages
        sample = pages.select("media_ref", "png").orderBy("media_ref").limit(REPLAY_PAGES).collect()
        refs = [r["media_ref"] for r in sample]
        fused_words = words.where(F.col("media_ref").isin(refs)).select("media_ref", "rank", "text").collect()
        ok = self._replay_check("own", [r.asDict() for r in sample], fused_words, DetectConfig())
        vdf = spark.createDataFrame(gen.wide_cell_documents(self.seed, VARIANT_PAGES), "doc_id string, text string")
        for name, rkw, cfg in (
            ("rotated", {"rotate_words": True}, DetectConfig(assume_straight_pages=False)),
            ("straightened", {"skew_pages": True}, DetectConfig(straighten_pages=True)),
        ):
            vpages = media_from_documents(vdf, **rkw).select(
                F.lit("v").alias("doc_id"), F.lit(1).alias("offset"), "media_ref", "png", "height", "width"
            ).persist()
            rows = vpages.select("media_ref", "png").collect()
            vwords = detect_recognize_pages(vpages, cfg).select("media_ref", "rank", "text").collect()
            ok &= self._replay_check(name, [r.asDict() for r in rows], vwords, cfg)
            vpages.unpersist()
        words.unpersist()
        pages.unpersist()
        self.replay_ok = ok
        return {"extract_s": extract_s, "pages": sp_pages, "fused": sp_fused, "assemble": sp_asm, "n_pages": n_pages}

    def _replay_check(self, name, rows, fused_rows, cfg) -> bool:
        got, phase_s, counts = replay.replay(rows, cfg)
        want: dict[str, list] = {r["media_ref"]: [] for r in rows}
        for r in fused_rows:
            want[r["media_ref"]].append((int(r["rank"]), r["text"]))
        want = {k: sorted(v) for k, v in want.items()}
        bad = [k for k in want if got.get(k) != want[k]]
        self.notes.append(
            f"replay[{name}]: {len(rows)} pages, replay == fused: {not bad}"
            + (f" (first differing page {bad[0]})" if bad else "")
        )
        lm = replay.layer_metrics(phase_s, counts)
        if name == "own":
            self.layers.update(lm)
        elif name == "rotated":
            self.layers["rotated_post.s_per_page"] = lm["rotated_post.s_per_page"]
            self.layers["orient.s_per_page"] = lm["orient.s_per_page"]
            self.layers["replay.rotated_sum_s_per_page"] = lm["replay.sum_s_per_page"]
        else:
            self.layers["straighten.estimate_s_per_page"] = lm["straighten.estimate_s_per_page"]
            self.layers["straighten.rotate_s_per_page"] = lm["straighten.rotate_s_per_page"]
            self.layers["replay.straightened_sum_s_per_page"] = lm["replay.sum_s_per_page"]
        return not bad

    def finish_trace(self, spans: dict) -> None:
        """Stop Spark, parse the event log, derive the Spark-layer numbers."""
        self.spark.stop()
        ev = EventLog(read_event_log(self.path("eventlog")))
        n_pages = max(spans["n_pages"], 1)
        prof = {k: ev.stage_profile(spans[k]) for k in ("pages", "fused", "assemble")}
        self.layers["media_pages.s"] = spans["pages"]["end"] - spans["pages"]["start"]
        self.layers["media_pages.shuffle_write_bytes"] = prof["pages"]["shuffle_write_bytes"]
        self.layers["media_pages.fetch_wait_s"] = prof["pages"]["fetch_wait_s"]
        self.layers["fused.s"] = spans["fused"]["end"] - spans["fused"]["start"]
        self.layers["fused.cpu_s_per_page"] = prof["fused"]["run_s"] / n_pages
        self.layers["fused.task_skew"] = prof["fused"]["skew"]
        self.layers["fused.boundary_s_per_page"] = (
            self.layers["fused.cpu_s_per_page"] - self.layers["replay.sum_s_per_page"]
        )
        self.layers["assemble.s"] = spans["assemble"]["end"] - spans["assemble"]["start"]
        self.layers["assemble.shuffle_write_bytes"] = prof["assemble"]["shuffle_write_bytes"]
        job, batch = spans["job"], spans["batch"]
        self.layers["lineage.spark_jobs"] = len(ev.jobs_in(job))
        self.layers["lineage.media_scans"] = ev.scans_in(job, self.path("media"))
        self.layers["stream.media_scan_bytes"] = (
            ev.scans_in(batch, self.path("media")) * spans["media_bytes"]
        )
        everything = {"start": 0.0, "end": float("inf")}
        self.layers["spark.jobs"] = len(ev.jobs_in(everything))
        self.layers["spark.task_failures"] = ev.stage_profile(everything)["failed"]

    def media_bytes(self) -> int:
        total = 0
        for root, _, files in os.walk(self.path("media")):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
        return total

    def check_job(self, out: str, expected: dict) -> list[float]:
        """Gate one checkpointed job's output; returns its groups'
        ``completed_at_unix`` in group order."""
        lin = self.spark.read.parquet(f"{out}/lineage").select("group", "completed_at_unix").collect()
        groups = sorted(r["group"] for r in lin)
        if groups != list(range(JOB_GROUPS)):
            self.gate.fail_structure(
                f"{out}: lineage groups {groups}, expected one row per group 0..{JOB_GROUPS - 1}"
            )
        rows = self.spark.read.parquet(f"{out}/spans").select(
            "doc_id", "offset", "kind", "text", "media_ref", "group"
        ).collect()
        doc_groups: dict[str, set] = {}
        for r in rows:
            doc_groups.setdefault(r["doc_id"], set()).add(r["group"])
        multi = [d for d, g in doc_groups.items() if len(g) > 1]
        if multi:
            self.gate.fail_structure(f"{out}: {len(multi)} docs written by more than one group")
        got = group_rows((r["doc_id"], r["offset"], r["kind"], r["text"], r["media_ref"]) for r in rows)
        dup = [d for d, s in got.items() if len({x[3] for x in s}) != len(s)]
        if dup:
            self.gate.fail_structure(f"{out}: {len(dup)} docs appear more than once in read_spans")
        self.gate.check(expected, got)
        return [r["completed_at_unix"] for r in sorted(lin, key=lambda r: r["group"])]

    def check_stream(self, out: str, expected: dict) -> None:
        """Gate a streaming job's output: every landed doc, each written
        by exactly one micro-batch."""
        rows = self.spark.read.parquet(f"{out}/spans").select(
            "doc_id", "offset", "kind", "text", "media_ref", "batch_id"
        ).collect()
        doc_batches: dict[str, set] = {}
        for r in rows:
            doc_batches.setdefault(r["doc_id"], set()).add(r["batch_id"])
        multi = [d for d, b in doc_batches.items() if len(b) > 1]
        if multi:
            self.gate.fail_structure(f"{out}: {len(multi)} docs written by more than one micro-batch")
        got = group_rows((r["doc_id"], r["offset"], r["kind"], r["text"], r["media_ref"]) for r in rows)
        self.gate.check(expected, got)


# ------------------------------------------------------------ backfill

def backfill(run: Run) -> None:
    tr = run.tracer
    inputs, media = run.setup(lambda: dict(zip(
        ("documents", "docs", "expected", "pages"), gen.backfill_corpus(run.seed, "bf", BACKFILL_PAGES)
    )))
    spark = run.spark
    docs = run.read_docs(run.path("docs"))
    expected, pages = inputs["expected"], inputs["pages"]
    # warm-up: every code path of the job once, on a slice of the docs
    t0 = time.perf_counter()
    lineage.run_checkpointed(spark, docs.limit(16), media, run.path("warm"), n_groups=WARM_GROUPS)
    run.notes.append(f"warm-up: {WARM_GROUPS}-group job on 16 docs {time.perf_counter() - t0:.3f}s")

    # Group latencies are commit-to-commit intervals on the wall clock the
    # program stamps completed_at_unix with: the first group's runs from the
    # job's start, the last group's to the job's return, so they cover
    # every step of the job and sum to its wall time.
    bounds: list[tuple[float, float]] = []

    def one_job(i: int) -> float:
        t0, u0 = time.perf_counter(), time.time()
        with tr.span("lineage.run_checkpointed", pages=pages):
            lineage.run_checkpointed(spark, docs, media, run.path(f"job{i}"))
        bounds.append((u0, time.time()))
        return time.perf_counter() - t0

    durs = run.timed_loop(one_job, len(expected), n_max=1)
    group_lat = []
    for i, (u0, u1) in enumerate(bounds):
        commits = run.check_job(run.path(f"job{i}"), expected)
        marks = [u0] + commits[:-1] + [u1]
        group_lat += [b - a for a, b in zip(marks, marks[1:])]
    run.metrics["pages_per_s"] = (median([pages / d for d in durs]), "pages/s")
    run.batch_metrics(group_lat, "checkpoint-group")
    run.notes.append(f"{len(durs)} job(s) of {pages} pages: " + ", ".join(f"{d:.3f}" for d in durs) + " s")
    if not run.trace:
        return

    # ---------------- traced part
    run.restart(event_log=True)
    spark = run.spark
    docs = run.read_docs(run.path("docs"))
    media = spark.read.parquet(run.path("media"))
    noop(extract_spans(docs, media))  # spawn the new context's workers
    t0 = time.perf_counter()
    with tr.span("lineage.run_checkpointed", pages=pages) as job:
        lineage.run_checkpointed(spark, docs, media, run.path("job_traced"))
    traced = time.perf_counter() - t0
    run.check_job(run.path("job_traced"), expected)
    spans = run.layer_pass(docs, media)
    run.layers["lineage.overhead_s"] = traced - spans["extract_s"]
    # the stream layer: two 25-doc slices of the corpus land in turn (the
    # first warms the stream path); the second batch's latency minus the
    # noop extraction of the same landed file
    land, stream_out = run.path("trace_landing"), run.path("trace_stream_out")
    stream_docs = inputs["docs"][:50]
    for k in range(2):
        landed = _land_file(land, stream_docs[25 * k : 25 * (k + 1)], run.path("trace_tmp"), k)
        with tr.span("extract_stream.batch") as batch:
            stream_extract_available_now(
                spark, land, media, stream_out, run.path("trace_stream_ckpt")
            ).awaitTermination()
    run.check_stream(stream_out, {d["doc_id"]: expected[d["doc_id"]] for d in stream_docs})
    batch_s = batch["end"] - batch["start"]
    run.layers["stream.overhead_s"] = batch_s - run.extract_s(run.read_docs(landed), media)
    spans.update(job=job, batch=batch, media_bytes=run.media_bytes())
    run.finish_trace(spans)
    run.overhead_pass(run.path("docs"), spans["extract_s"])


# ------------------------------------------------------------ incremental

def _land_file(landing: str, docs: list[dict], tmp: str, k: int) -> str:
    """Land one parquet file atomically (written aside, renamed in);
    returns its path."""
    os.makedirs(landing, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    staged = os.path.join(tmp, f"batch-{k:05d}.parquet")
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCS_ARROW), staged)
    path = os.path.join(landing, f"batch-{k:05d}.parquet")
    os.replace(staged, path)
    return path


def incremental(run: Run) -> None:
    tr = run.tracer
    # The window is bounded by --seconds; this cap only matters on a
    # machine faster than LAND_MIN_BATCH_S per batch.
    n_timed = max(1, int(run.seconds / LAND_MIN_BATCH_S))
    n_batches = LAND_WARM + n_timed + LAND_TRACED

    def make_inputs():
        batches = gen.landing_batches(run.seed, n_batches, LAND_SMALL_DOCS)
        store, _, _, _ = gen.backfill_corpus(run.seed, "st", STORE_EXTRA_PAGES)
        documents = store + [d for b in batches for d in b[0]]
        return {"documents": documents, "batches": batches}

    inputs, media = run.setup(make_inputs)
    spark = run.spark
    batches = inputs["batches"]
    landing, tmp = run.path("landing"), run.path("landing_tmp")
    out, ckpt = run.path("stream_out"), run.path("stream_ckpt")
    landed: dict = {}
    files: list[str] = []

    def drain(b: int) -> float:
        docs, expected = batches[b][1], batches[b][2]
        files.append(_land_file(landing, docs, tmp, len(files)))
        t0 = time.perf_counter()
        stream_extract_available_now(spark, landing, media, out, ckpt).awaitTermination()
        t = time.perf_counter() - t0
        landed.update(expected)
        return t

    warm = [drain(b) for b in range(LAND_WARM)]
    run.notes.append("warm-up batch latencies: " + ", ".join(f"{x:.3f}" for x in warm) + " s")
    first = LAND_WARM

    def timed(i: int) -> float:
        with tr.span("extract_stream.batch"):
            return drain(first + i)

    lat = run.timed_loop(timed, LAND_SMALL_DOCS + 1, n_max=n_timed)
    pages = [sum(x["kind"] == "media" for d in batches[first + i][1] for x in d["spans"]) for i in range(len(lat))]
    run.metrics["pages_per_s"] = (sum(pages) / sum(lat), "pages/s")
    run.batch_metrics(lat, "landing-batch")
    run.notes.append(f"{len(lat)} timed batches, {sum(pages)} pages; closed loop, one client")
    # Drain, untimed, the batches the window left, so that every run of a
    # seed lands and checks the same docs whatever the machine's speed.
    if not run.gate.structural:
        for b in range(first + len(lat), first + n_timed):
            drain(b)
        run.notes.append(f"{n_timed - len(lat)} batches drained untimed after the window")
    if run.trace:
        # ---------------- traced part (rebinds spark and media, which drain uses)
        run.restart(event_log=True)
        spark = run.spark
        media = spark.read.parquet(run.path("media"))
        noop(extract_spans(run.read_docs(files[0]), media))  # spawn the new context's workers
        traced_lat = []
        last = first + n_timed + LAND_TRACED - 1
        for b in range(first + n_timed, last + 1):
            with tr.span("extract_stream.batch") as batch:
                traced_lat.append(drain(b))
        docs_df = run.read_docs(files[-1])
        spans = run.layer_pass(docs_df, media)
        run.layers["stream.overhead_s"] = median(traced_lat) - spans["extract_s"]
        # the production batch job over the last landed batch, for the lineage layer
        t0 = time.perf_counter()
        with tr.span("lineage.run_checkpointed") as job:
            lineage.run_checkpointed(spark, docs_df, media, run.path("job_traced"))
        run.layers["lineage.overhead_s"] = (time.perf_counter() - t0) - spans["extract_s"]
        run.check_job(run.path("job_traced"), batches[last][2])
        spans.update(job=job, batch=batch, media_bytes=run.media_bytes())
        run.finish_trace(spans)
        run.overhead_pass(files[-1], spans["extract_s"])
    # every landed doc, traced batches included, is checked once
    run.check_stream(out, landed)
