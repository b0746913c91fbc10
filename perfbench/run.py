"""kaer_spark benchmark: one closed-loop client (one caller that waits for
each reply) on ``local[<cores>]``.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Workloads (see ``workloads.py``); each times operations until ``--seconds``
have passed and at least a minimum number has been timed:

* ``ingest`` - 20-document inserts into a 4,000-document indexed collection,
  each followed by read-your-write exact and approximate queries; at least
  ``INGEST_MIN_STEPS`` inserts.
* ``curate`` - one curation pass over a 500-document corpus (five registry
  stages that reach pipelines, operators.{sampling,dedup,similarity}, the
  fphash Arrow UDFs and streaming.ingest), then exact and approximate kNN
  queries over the same corpus; at least ``CURATE_MIN_QUERIES`` queries.

Each run starts its own JVM, whose first jobs pay class loading, JIT and
Python-worker start-up. A run is sized so that the 48 runs of a benchmark
check fit in under an hour on a 4-core host: 40-55 s each, of which
session start and set-up (``setup_s``) take 15-30 s.

The two workloads cover kaer's serving path too: every layer a read-only
query touches is measured on the queries of both.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1`` spans are
recorded around each layer and the per-layer metrics are reported instead
(``tracing.py``). The line before it, prefixed ``perfbench-info``, records
the Spark settings, a load fingerprint, latency tails with their sample
counts, the set-up phases, the error rate and any failures. Everything a
run writes stays under ``perfbench/.work``; ``spread.py`` runs several
seeds and reports each metric's quartile spread against its bound.

End-to-end metrics, each reported by both workloads:

* ``setup_s`` - session start + store build + warm-up. The store is the
  collection (insert, then IVF index) on ``ingest``; on ``curate`` it is
  the corpus tables and an IVF index over them. The warm-up is the recall
  probe, which runs both query paths before they are timed (on ``curate``
  after the pass), and on ``ingest`` one untimed insert. Each run builds
  once: a second build to report a median of would cost more of the
  run-time budget than its steadiness is worth. The curate stages' DuckDB
  check runs after the timed operations and is not in any figure.
* ``op_p50_ms`` - median latency of the workload's operation: one
  20-document ``insert()`` on ``ingest``; on ``curate``, the one curation
  pass (the sum of its stages' latencies), each stage running for the
  first time in the session as in a batch job.
* ``query_p50_ms`` / ``approx_query_p50_ms`` - median latency of an exact /
  approximate filtered kNN query, collected, run after each insert or
  after the pass: ``Collection.query`` on ``ingest``; on ``curate`` the
  operators it runs on, ``exact_knn`` and ``ivf_index_topk``.
* ``approx_recall_at_10`` - mean recall@10 against the brute-force top 10
  of the approximate queries of the warm-up probe, a query set that is the
  same in every run (``corpus.probe_stream``), so the figure repeats.
* ``stored_bytes_per_user_byte`` - on ``ingest``, bytes of the collection
  directory (data and index) over the bytes of text and metadata JSON
  inserted; on ``curate``, bytes of the IVF index over the bytes of the
  corpus tables it indexes.

The per-layer metrics are described in ``tracing.py``, apart from
``peak_rss_mb`` (peak resident memory of the Python driver plus the JVM),
which is per-layer because JVM heap growth differs too much run to run.
Latency tails are per-layer too (``query_p95_ms``): a run leaves fewer than
ten samples beyond p95. The info line gives, per operation kind, the
highest percentile that has ten samples beyond it, with the sample count.
``error_rate`` (failed over attempted, a wrong output counting as failed) is
in the info line; it is 0 on a correct run, so it is carried by
``attempted`` and ``failed``, not as a metric.

Known defect, worked around as the test suite does: the Arrow UDFs in
``kaer_spark/functions/fphash.py`` do not ship ``kaer_spark`` to Python
workers, so ``dedup_cluster_build``, ``dedup_against`` and
``duplicate_passages`` fail with ``ModuleNotFoundError`` from any working
directory but the repo root. The benchmark puts the repo root on the
workers' ``PYTHONPATH``, as running from the repo root does; the curate
stage ``dedup_against`` runs those UDFs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_fingerprint() -> dict:
    """Load average, cores, free memory and the host's cumulative CPU
    jiffies (busy, idle, stolen by other guests) at this moment."""
    with open("/proc/meminfo") as f:
        mem = dict(line.split(":", 1) for line in f)
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {
        "loadavg": os.getloadavg(),
        "cores": len(os.sched_getaffinity(0)),
        "mem_available_mb": int(mem["MemAvailable"].split()[0]) // 1024,
        "jiffies": {"busy": sum(cpu[:3]) + sum(cpu[5:7]), "idle": cpu[3] + cpu[4], "steal": cpu[7]},
    }


def steal_share(before: dict, after: dict) -> float:
    """Share of the run's CPU time the hypervisor gave to other guests."""
    d = {k: after["jiffies"][k] - before["jiffies"][k] for k in before["jiffies"]}
    return d["steal"] / max(1, sum(d.values()))


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from ``/proc/<pid>/status``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> list[int]:
    """Pids of the live descendants of ``pid``."""
    out, todo = [], [pid]
    while todo:
        parent = todo.pop()
        try:
            tids = os.listdir(f"/proc/{parent}/task")
        except OSError:
            continue  # exited meanwhile
        for tid in tids:
            try:
                with open(f"/proc/{parent}/task/{tid}/children") as f:
                    kids = [int(x) for x in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def running(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop Spark and the JVM, and wait until every process this run
    started (the JVM and the Python workers it forked) has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()  # the JVM exits at the end of its stdin
            gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (left := [p for p in started if running(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    if left:
        raise RuntimeError(f"processes still running 30 s after Spark stopped: {left}")


def start_spark(run_dir: str, cores: int):
    from kaer_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    diag = os.path.join(run_dir, "jvm-diag")
    for d in (tmp, diag):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:ErrorFile={diag}/hs_err_pid%p.log"
        ),
    }
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    start_s = time.perf_counter() - t0
    settings = dict(conf, master=f"local[{cores}]", shuffle_partitions=cores)
    return spark, start_s, settings


def end_to_end(result, start_s: float) -> dict:
    from perfbench import stats

    lat = result.latencies
    return {
        "setup_s": (start_s + result.setup["collection_build_s"]
                    + result.setup["index_build_s"] + result.setup["warmup_s"], "s"),
        "op_p50_ms": (stats.median(lat["op"]), "ms"),
        "query_p50_ms": (stats.median(lat["query"]), "ms"),
        "approx_query_p50_ms": (stats.median(lat["approx"]), "ms"),
        "approx_recall_at_10": (statistics.fmean(result.recalls), "ratio"),
        "stored_bytes_per_user_byte": (result.stored_bytes_per_user_byte, "B/B"),
    }


def per_layer(result, tracer, start_s: float, rss_mb: float) -> dict:
    from perfbench import stats, tracing, workloads

    lat = result.latencies
    queries = lat["query"] + lat["approx"]
    timed = [o for o in tracer.ops if o["kind"] in tracing.TIMED_KINDS]
    out = {
        "session.start_s": (start_s, "s"),
        "setup.collection_build_s": (result.setup["collection_build_s"], "s"),
        "setup.index_build_s": (result.setup["index_build_s"], "s"),
        "setup.warmup_s": (result.setup["warmup_s"], "s"),
        "context.data_files": (result.data_files, "count"),
        "peak_rss_mb": (rss_mb, "MB"),
        # fewer than 10 samples lie beyond p95 at these run lengths, so the
        # tail is a traced, per-layer figure and not a gated one
        "query_p95_ms": (stats.percentile(queries, 95), "ms"),
        "traced.op_p50_ms": (stats.median(lat["op"]), "ms"),
        "trace.overhead_pct": (
            100 * sum(o["wrapper_ms"] for o in timed) / sum(o["wall_ms"] for o in timed), "%"),
    }
    units = {"ms": "ms", "s": "s", "bytes": "B"}
    for name, value in tracing.per_layer(tracer.ops, workloads.CURATE_STAGES).items():
        out[name] = (value, units.get(name.rsplit("_", 1)[-1], "count"))
    return out


def main(argv: list[str]) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import kaer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: kaer_spark is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import stats, tracing, workloads

    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    import tempfile

    tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ.update({
        "TMPDIR": tempfile.tempdir,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        # no JVM of the run writes its perf-counter file under /tmp
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    fingerprint = {"before": load_fingerprint()}
    cores = fingerprint["before"]["cores"]
    t_spark = time.perf_counter()
    spark, start_s, settings = start_spark(run_dir, cores)
    try:
        tracer = tracing.Tracer(spark, enabled=bool(args.trace))
        cls = {"ingest": workloads.Ingest, "curate": workloads.Curate}[args.workload]
        result = cls(spark, run_dir, tracer, args.seed, args.seconds).run()
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(spark.sparkContext._jvm.ProcessHandle.current().pid())
        if args.trace:
            metrics = per_layer(result, tracer, start_s, rss_mb)
            tracer.write(os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.jsonl"))
        else:
            metrics = end_to_end(result, start_s)
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
    phases = {"init_s": t_spark - t_main, "session_s": start_s,
              "workload_s": t_stop - t_spark - start_s, "stop_s": time.perf_counter() - t_stop}
    fingerprint["after"] = load_fingerprint()
    fingerprint["steal_share"] = steal_share(fingerprint["before"], fingerprint["after"])
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "spark": settings, "load": fingerprint,
        "tails_ms": {k: stats.tail(v) for k, v in result.latencies.items()},
        "setup": result.setup, "phases": phases,
        "error_rate": stats.error_rate(result.attempted, result.failed),
        "failures": result.failures,
    }
    print("perfbench-info " + json.dumps(info))
    out = {
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(WORK, f"result-{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(dict(out, info=info, latencies_ms=result.latencies), f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
