"""End-to-end benchmark: production ingest, RAG index build, hybrid query.

    python3 e2ebench/run.py --workload ingest|index|query --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed`` and
written as parquet under ``.bench_work/``; the program reads only those
files. Every Spark session runs in a child process (``ops.py``), one fresh
JVM each, with the same fixed, pre-touched heap and ``local[nproc]``.
Outputs are checked against the program's DuckDB oracle SQL.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``; with ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones. The line before it is the full record:
host conditions, sample counts, setup samples, oracle details.
See NOTES.md for why each workload exists and what each metric predicts.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Docs per fixture class (ingest, index) and (documents, embeddings) for
# query: the largest that fit the time budget of a run (NOTES.md, "Sizing").
SIZES = {
    "full": {"ingest": 1500, "index": 500, "query": (20000, 2000)},
    # the self-test's tiny inputs
    "small": {"ingest": 40, "index": 40, "query": (400, 200)},
}
DEADLINE_S = 150  # the child's; the oracle check follows it


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- child processes ---------------------------------------------------------


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def _stop_session(sid: int) -> None:
    """Terminate whatever is left of a child's session (its JVM, Python
    workers) and wait until every process in it has ended."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _session_pids(sid):
            return
        try:
            os.killpg(sid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while _session_pids(sid) and time.monotonic() < end:
            time.sleep(0.05)
    if _session_pids(sid):
        raise RuntimeError(f"processes of session {sid} did not end")


def run_child(cfg: dict, deadline: float) -> dict:
    """Run ops.py with ``cfg`` in a new session; return its JSON result."""
    work = cfg["work"]
    cfg = dict(cfg, result_path=os.path.join(work, "result.json"))
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(work, "spark.log")
    # a caller's SPARK_LOCAL_DIRS would override spark.local.dir and put
    # Spark's scratch files outside the checkout
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    with open(log_path, "w") as log:
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "ops.py"), cfg_path],
            cwd=ROOT, stdout=log, stderr=subprocess.STDOUT, env=env,
            start_new_session=True,
        )
        try:
            rc = p.wait(timeout=max(deadline - time.monotonic(), 1.0))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            _stop_session(p.pid)
            p.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"ops.py failed ({rc}):\n{tail}")
    with open(cfg["result_path"]) as f:
        return json.load(f)


# -- metrics -----------------------------------------------------------------


def _spans(main: dict, name: str) -> list[dict]:
    return [s for s in main["spans"] if s["name"] == name]


def _med(spans: list[dict], key: str | None = None) -> float:
    vals = [s["end"] - s["start"] if key is None else s[key] for s in spans]
    return statistics.median(vals) if vals else 0.0


def end_to_end(main: dict, docs_per_op: int, rate: float) -> dict:
    ops = main["op_s"]
    done = main["attempted"] - main["failed"]
    return {
        "setup_s": main["start_s"] + main["first_op_s"],
        "job_s_p50": statistics.median(ops),
        "docs_per_s": docs_per_op * done / sum(ops),
        "output_match_rate": rate,
        "peak_rss_mb": main["peak_rss_mb"],
    }


def per_layer(main: dict, workload: str, counts: dict, names: list[str]) -> dict:
    m = dict.fromkeys(names, 0)  # layers a workload never calls stay 0
    m["session.start_s"] = main["start_s"]
    ops = _spans(main, "op")
    m["spark.jobs_per_op"] = _med(ops, "jobs")
    m["spark.tasks_per_op"] = _med(ops, "tasks")
    m["spark.executor_cpu_s"] = _med(ops, "cpu_s")
    m["spark.gc_s"] = _med(ops, "gc_s")
    m["spark.shuffle_read_bytes"] = _med(ops, "shuffle_read_bytes")
    untraced = statistics.median(main["op_s"])
    m["trace.overhead_pct"] = 100.0 * (
        statistics.median(main["traced_op_s"]) - untraced
    ) / untraced
    if workload == "ingest":
        kernel = _spans(main, "extract_arrow.kernel")
        extract = _spans(main, "extract.job")
        append = _spans(main, "snapshots.append")
        m["extract_arrow.kernel_s"] = _med(kernel, "kernel_s")
        m["extract_arrow.spans_per_s"] = statistics.median(
            s["spans"] / s["kernel_s"] for s in kernel
        )
        m["extract.job_s"] = _med(extract)
        m["extract.python_bytes_sent"] = _med(extract, "python_bytes_sent")
        m["extract.python_bytes_received"] = _med(extract, "python_bytes_received")
        m["extract.spans_in"] = counts["spans_in"]
        m["extract.spans_out"] = _med(append, "spans_out")
        m["snapshots.pending_s"] = _med(_spans(main, "snapshots.pending"))
        m["snapshots.append_s"] = _med(append)
        m["snapshots.append_bytes"] = _med(append, "bytes")
        m["snapshots.append_files"] = _med(append, "files")
    elif workload == "index":
        chunk = _spans(main, "chunk.job")
        m["snapshots.read_s"] = _med(_spans(main, "snapshots.read"))
        m["chunk.job_s"] = _med(chunk)
        m["chunk.chunks_out"] = counts["chunks_out"]
        m["chunk.shuffle_write_bytes"] = _med(chunk, "shuffle_write_bytes")
        m["embed.job_s"] = _med(_spans(main, "embed.job"))
        m["embed.null_vectors"] = counts["null_vectors"]
    else:
        m["retrieval.bm25_s"] = _med(_spans(main, "retrieval.bm25"))
        m["retrieval.cosine_s"] = _med(_spans(main, "retrieval.cosine"))
        m["retrieval.hybrid_s"] = _med(ops)
        m["retrieval.jobs_per_query"] = _med(ops, "jobs")
    return m


def _index_counts(dirs: list[str]) -> dict:
    import pyarrow.parquet as pq

    vec = pq.read_table(dirs[0], columns=["vector"]).column("vector")
    return {"chunks_out": len(vec), "null_vectors": vec.null_count}


# -- one run -----------------------------------------------------------------


def run(args) -> tuple[dict, dict]:
    sys.path.insert(0, ROOT)
    import inputs
    import oracle

    t_begin = time.monotonic()
    deadline = t_begin + DEADLINE_S
    wl = args.workload
    size = SIZES["small" if args.small else "full"][wl]
    n_files = 4 * len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{wl}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cfg = {
        "workload": wl,
        "work": work,
        "cores": len(os.sched_getaffinity(0)),
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "inject": args.inject,
    }
    try:
        if wl == "query":
            qdir = os.path.join(work, "sf")
            os.makedirs(qdir)
            n_docs, n_emb = size
            vec_ids = inputs.write_query_corpus(
                args.seed, n_docs, n_emb, qdir, n_files
            )
            rng = random.Random(args.seed)
            cfg.update(query_dir=qdir, query_ids=rng.sample(vec_ids, 100))
            docs_per_op = n_docs
        else:
            corpus = inputs.Corpus(args.seed, size)
            cfg.update(
                docs_path=os.path.join(work, "docs"),
                n_docs=corpus.n_docs,
                table_root=os.path.join(work, "table"),
            )
            corpus_table = corpus.table()
            inputs.write_parts(corpus_table, cfg["docs_path"], n_files)
            docs_per_op = corpus.n_docs
        gen_s = time.monotonic() - t_begin

        main = run_child(cfg, deadline)

        t_check = time.monotonic()
        corrupt = args.inject == "corrupt"
        out = main["output"]
        counts = {}
        if wl == "ingest":
            rate, detail = oracle.check_ingest(
                corpus_table, corpus.expected_table(), out["dirs"], corrupt
            )
            counts["spans_in"] = corpus.n_spans
        elif wl == "index":
            rate, detail = oracle.check_index(corpus_table, out["dirs"], corrupt)
            counts.update(_index_counts(out["dirs"]))
        else:
            rate, detail = oracle.check_query(qdir, out["results"], corrupt)
        check_s = time.monotonic() - t_check
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    spec = _spec()
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        metrics = per_layer(main, wl, counts, names)
    else:
        metrics = end_to_end(main, docs_per_op, rate)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    result = {
        "correct": rate == 1.0 and main["first_ok"],
        "attempted": main["attempted"],
        "failed": main["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    record = {
        "workload": wl,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "nproc": cfg["cores"],
            "host_cpus": os.cpu_count(),
            "load1_start": main["load1_start"],
            "load1_end": main["load1_end"],
            "steal_pct": main["steal_pct"],
        },
        "docs_per_op": docs_per_op,
        "window_s": main["window_s"],
        "samples": {"ops": len(main["op_s"]), "traced_ops": len(main["traced_op_s"])},
        "op_s": main["op_s"],
        "traced_op_s": main["traced_op_s"],
        "warmup_s": [main["first_op_s"]] + main["warmup_s"],
        "session_start_s": main["start_s"],
        "oracle": detail,
        "phase_s": {"inputs": gen_s, "check": check_s,
                    "total": time.monotonic() - t_begin},
    }
    return record, result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "index", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("corrupt", "fail"), default=None,
                    help="self-test only: corrupt one output row, or make"
                         " one timed op fail")
    ap.add_argument("--small", action="store_true",
                    help="self-test only: tiny inputs")
    args = ap.parse_args()
    for need in ("submit_main.py", "gpt4ocontentextraction_spark"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"e2ebench: {need} not found under {ROOT}; run from a"
                     " checkout of the program")
    record, result = run(args)
    print(json.dumps({"record": record}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
