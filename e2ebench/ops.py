"""Spark side of the benchmark: one process is one fresh JVM.

``python3 ops.py <config.json>`` starts a SparkSession with the fixed
session settings below and times, in order: the session start, the first
(cold) op, a fixed number of warm-up ops, then a closed-loop timed window
(one client; each op starts when the previous one has finished). With
``trace`` set, traced ops alternate with untraced ones and every layer is
probed by a separate call (see Tracer). The JSON result goes to the path
named in the config.

The program is driven only through its public entry points:
``submit_main.main()``, ``SnapshotTable``, ``chunk.chunk_dispatch``,
``embed.embed``, ``extract.extract``, ``extract_arrow.extract_values_arrow``
and the ``retrieval`` functions.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# One fixed, pre-touched heap for every JVM the benchmark starts: lazily
# faulted heap pages make op times depend on what the host did earlier.
HEAP = "1g"
# Fewest ops a timed window holds, however long each op takes.
MIN_WINDOW_OPS = 3
CHUNK_KEY_STRIDE = 100_000  # chunk key = doc_id * stride + chunk_id


def start_session(work: str, cores: int):
    from gpt4ocontentextraction_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    return get_spark(
        "e2ebench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData"
                f" -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


# -- host and process sampling -------------------------------------------


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and its descendants. Plain
    RSS would count pages shared between processes once per process: a
    forked child (the JVM forks shell helpers, the Python daemon forks
    workers) would double the JVM's or the daemon's memory."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class MemorySampler:
    """Peak summed memory (PSS) of this process, its JVM and the JVM's
    Python workers, sampled every 100 ms while running."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self._stop.wait(0.1)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# -- workloads -------------------------------------------------------------


def _data_files(dirs: list[str]) -> list[str]:
    return sorted(
        os.path.join(r, f)
        for d in dirs
        for r, _, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    )


def parquet_rows(dirs: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _data_files(dirs))


def run_submit_main(input_path: str, output: str, run_id: str) -> dict:
    """One production job: ``submit_main.main()`` as spark-submit runs it
    (it picks up the active session). Returns its one-line JSON summary."""
    import submit_main

    argv = sys.argv
    sys.argv = ["submit_main.py", "--input", input_path, "--output", output,
                "--run-id", run_id]
    try:
        with contextlib.redirect_stdout(io.StringIO()) as buf:
            submit_main.main()
    finally:
        sys.argv = argv
    return json.loads(buf.getvalue().strip().splitlines()[-1])


class Ingest:
    """Each op commits the whole corpus into an empty snapshot table."""

    warmup_ops = 2

    def __init__(self, spark, cfg):
        self.spark, self.cfg = spark, cfg
        self.docs = cfg["docs_path"]
        self.n_docs = cfg["n_docs"]
        self.root = os.path.join(cfg["work"], "ingest")
        self.last = None

    def prepare(self):
        pass

    def op(self, i: int, broken: bool = False) -> bool:
        from gpt4ocontentextraction_spark.sources.snapshots import SnapshotTable

        out = os.path.join(self.root, f"t{i}")
        src = self.docs + ".missing" if broken else self.docs
        status = run_submit_main(src, out, f"op{i}")
        dirs = SnapshotTable(out).committed_dirs()
        ok = status.get("status") == "committed" and parquet_rows(dirs) == self.n_docs
        if self.last:
            shutil.rmtree(self.last, ignore_errors=True)
        self.last = out
        return ok

    def output(self) -> dict:
        from gpt4ocontentextraction_spark.sources.snapshots import SnapshotTable

        return {"dirs": SnapshotTable(self.last).committed_dirs()}


class Index:
    """Each op reads the committed extraction, chunks it by file type,
    embeds every chunk and writes the vectors to parquet."""

    warmup_ops = 3

    def __init__(self, spark, cfg):
        self.spark, self.cfg = spark, cfg
        self.table = cfg["table_root"]
        self.root = os.path.join(cfg["work"], "index")
        self.n_chunks = None
        self.last = None

    def prepare(self):
        """The untimed input build, by the program's own production job."""
        if not os.path.exists(self.table):
            run_submit_main(self.cfg["docs_path"], self.table, "build")

    def chunks(self, table=None):
        from pyspark.sql import functions as F

        from gpt4ocontentextraction_spark.operators.chunk import chunk_dispatch
        from gpt4ocontentextraction_spark.sources.snapshots import SnapshotTable

        extracted = SnapshotTable(table or self.table).read(self.spark)
        typed = extracted.withColumn(
            "file_type",
            F.when(F.col("doc_id").cast("long") % 2 == 0, F.lit("pptx"))
            .otherwise(F.lit("pdf")),
        )
        return chunk_dispatch(typed)

    @staticmethod
    def keyed(chunks):
        from pyspark.sql import functions as F

        key = F.col("file_name").cast("long") * CHUNK_KEY_STRIDE + F.col("chunk_id")
        return chunks.select(key.alias("doc_id"), F.col("content").alias("text"))

    def op(self, i: int, broken: bool = False) -> bool:
        from gpt4ocontentextraction_spark.operators.embed import embed

        out = os.path.join(self.root, f"i{i}")
        table = self.table + ".missing" if broken else None
        embed(self.keyed(self.chunks(table))).write.parquet(out)
        n = parquet_rows([out])
        if self.n_chunks is None:
            self.n_chunks = n
        if self.last:
            shutil.rmtree(self.last, ignore_errors=True)
        self.last = out
        return n == self.n_chunks and n > 0

    def output(self) -> dict:
        return {"dirs": [self.last]}


class Query:
    """Each op is one hybrid (BM25 + cosine, RRF-fused) top-5 query."""

    warmup_ops = 2

    def __init__(self, spark, cfg):
        self.spark, self.cfg = spark, cfg
        self.dir = cfg["query_dir"]
        self.qids = cfg["query_ids"]
        self.results: dict[int, list] = {}

    def prepare(self):
        pass

    def op(self, i: int, broken: bool = False) -> bool:
        from gpt4ocontentextraction_spark.operators import retrieval

        q = self.qids[i % len(self.qids)]
        d = self.dir + ".missing" if broken else self.dir
        rows = retrieval.hybrid_rrf_topk(self.spark, d, query_id=q).collect()
        self.results[q] = [
            [r["doc_id"], r["r_bm25"], r["r_cos"], r["rrf"]] for r in rows
        ]
        return len(rows) == 5

    def output(self) -> dict:
        return {"results": {str(q): r for q, r in self.results.items()}}


WORKLOADS = {"ingest": Ingest, "index": Index, "query": Query}


# -- tracing -----------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent) kept in memory, plus counts, and
    Spark's own per-job-group stage metrics. Each span wraps a call into a
    public function of the program, made from this file only."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, spark_group: bool = False):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        sc = self.spark.sparkContext
        group = f"{name}-{len(self.spans)}"
        if spark_group:
            sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if spark_group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self.group_stats(group))

    def group_stats(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out = dict(jobs=0, tasks=0, cpu_s=0.0, gc_s=0.0,
                   shuffle_read_bytes=0, shuffle_write_bytes=0)
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            for sid in tracker.getJobInfo(jid).stageIds:
                st = store.lastStageAttempt(sid)
                out["tasks"] += st.numCompleteTasks()
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        return out


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def python_bytes(spark) -> tuple[int, int]:
    """Bytes sent to / received from Python workers by the latest SQL
    execution, from its plan's SQL metrics."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    metrics = execs.apply(execs.size() - 1).metrics()
    accumulators = spark.sparkContext._jvm.org.apache.spark.util.AccumulatorContext
    totals = {"data sent to Python workers": 0,
              "data returned from Python workers": 0}
    for i in range(metrics.size()):
        m = metrics.apply(i)
        if m.name() in totals:
            acc = accumulators.get(m.accumulatorId())
            if not acc.isDefined():
                raise RuntimeError(f"SQL metric {m.name()!r} no longer registered")
            totals[m.name()] += int(acc.get().value())
    return tuple(totals.values())


def flat_batches(path: str, batch_rows: int):
    """The job's Arrow batches, flattened the way the extraction operator
    hands them to the kernel: (doc_idx, kind, text, media_ref, offset)."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    for batch in ds.dataset(path, format="parquet").to_batches(batch_size=batch_rows):
        spans = batch.column("spans")
        counts = pc.list_value_length(spans).to_numpy(zero_copy_only=False)
        doc_idx = np.repeat(np.arange(len(batch), dtype=np.int64), counts)
        v = spans.flatten()
        yield (
            doc_idx,
            v.field("kind"),
            v.field("text"),
            v.field("media_ref"),
            v.field("offset").to_numpy(zero_copy_only=False).astype(np.int64),
        )


def probe_layers(tr: Tracer, wl, i: int) -> None:
    """One separate, traced call into each layer the workload uses."""
    spark, cfg = wl.spark, wl.cfg
    if isinstance(wl, Ingest):
        from gpt4ocontentextraction_spark.operators.extract import extract
        from gpt4ocontentextraction_spark.operators.extract_arrow import (
            extract_values_arrow,
        )
        from gpt4ocontentextraction_spark.sources.snapshots import SnapshotTable

        docs = spark.read.parquet(wl.docs)
        fresh = SnapshotTable(os.path.join(cfg["work"], f"probe{i}"))
        with tr.span("snapshots.pending", spark_group=True):
            fresh.pending(docs, spark).take(1)
        with tr.span("extract.job", spark_group=True) as s:
            noop_sink(extract(docs))
        s["python_bytes_sent"], s["python_bytes_received"] = python_bytes(spark)
        rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        with tr.span("extract_arrow.kernel") as s:
            s["kernel_s"], s["spans"] = 0.0, 0
            for flat in flat_batches(wl.docs, rows):
                t = time.perf_counter()
                extract_values_arrow(*flat)
                s["kernel_s"] += time.perf_counter() - t
                s["spans"] += len(flat[0])
        extracted = SnapshotTable(wl.last).read(spark)
        with tr.span("snapshots.append", spark_group=True) as s:
            fresh.append(extracted, spark, run_id=f"probe{i}")
        files = _data_files(fresh.committed_dirs())
        s["bytes"] = sum(os.path.getsize(f) for f in files)
        s["files"] = len(files)
        s["spans_out"] = _spans_out(files)
        shutil.rmtree(fresh.root, ignore_errors=True)
    elif isinstance(wl, Index):
        from gpt4ocontentextraction_spark.operators.embed import embed
        from gpt4ocontentextraction_spark.sources.snapshots import SnapshotTable

        with tr.span("snapshots.read", spark_group=True):
            noop_sink(SnapshotTable(wl.table).read(spark))
        with tr.span("chunk.job", spark_group=True):
            noop_sink(wl.chunks())
        chunks_path = os.path.join(cfg["work"], "chunks.parquet")
        if not os.path.exists(chunks_path):
            wl.keyed(wl.chunks()).write.parquet(chunks_path)
        with tr.span("embed.job", spark_group=True):
            noop_sink(embed(spark.read.parquet(chunks_path)))
    else:
        from gpt4ocontentextraction_spark.operators import retrieval

        q = wl.qids[i % len(wl.qids)]
        with tr.span("retrieval.bm25", spark_group=True):
            retrieval.bm25_topk(
                spark.read.parquet(f"{wl.dir}/documents.parquet")
            ).collect()
        with tr.span("retrieval.cosine", spark_group=True):
            retrieval.cosine_topk(spark, wl.dir, query_id=q).collect()


def _spans_out(files: list[str]) -> int:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    return sum(
        int(pc.sum(pc.list_value_length(pq.read_table(f, columns=["spans"])
                                        .column("spans"))).as_py() or 0)
        for f in files
    )


# -- the run -----------------------------------------------------------------


def timed_op(wl, i: int, broken: bool = False) -> tuple[float, bool]:
    t = time.perf_counter()
    try:
        ok = wl.op(i, broken)
    except Exception:  # a failed op is counted and logged; the loop goes on
        print(f"op {i} failed:", file=sys.stderr)
        traceback.print_exc()
        ok = False
    return time.perf_counter() - t, ok


def run_main(cfg: dict) -> dict:
    t0 = time.perf_counter()
    spark = start_session(cfg["work"], cfg["cores"])
    start_s = time.perf_counter() - t0
    wl = WORKLOADS[cfg["workload"]](spark, cfg)
    wl.prepare()  # untimed; not part of the first op
    first_s, first_ok = timed_op(wl, 0)
    warm = [timed_op(wl, i)[0] for i in range(1, 1 + wl.warmup_ops)]
    i = 1 + wl.warmup_ops

    tracer = Tracer(spark) if cfg["trace"] else None
    op_s, traced_s, failed = [], [], 0
    fail_at = i if cfg.get("inject") == "fail" else None  # first window op
    steal0, total0 = cpu_jiffies()
    load_start = load1()
    t_window = time.perf_counter()
    with MemorySampler() as mem:
        last = 0.0
        # an op starts only if at least half of it would fall in the window
        while len(op_s) + len(traced_s) < MIN_WINDOW_OPS or (
            time.perf_counter() - t_window + last / 2 < cfg["seconds"]
        ):
            if tracer and len(op_s) > len(traced_s):
                with tracer.span("op", spark_group=True):
                    dt, ok = timed_op(wl, i, i == fail_at)
                traced_s.append(dt)
                if ok:
                    probe_layers(tracer, wl, i)
            else:
                dt, ok = timed_op(wl, i, i == fail_at)
                op_s.append(dt)
            last = dt
            failed += not ok
            i += 1
    window_s = time.perf_counter() - t_window
    steal1, total1 = cpu_jiffies()
    out = {
        "start_s": start_s,
        "first_op_s": first_s,
        "first_ok": first_ok,
        "warmup_s": warm,
        "op_s": op_s,
        "traced_op_s": traced_s,
        "attempted": len(op_s) + len(traced_s),
        "failed": failed,
        "window_s": window_s,
        "peak_rss_mb": mem.peak / 2**20,
        "steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1),
        "load1_start": load_start,
        "load1_end": load1(),
        "output": wl.output(),
        "spans": tracer.spans if tracer else [],
    }
    spark.stop()
    return out


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    result = run_main(cfg)
    with open(cfg["result_path"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
