"""Benchmark entry point.

    python3 perfbench/run.py --workload {shared_scan,corpus}
                             --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. The first run builds the
seeded inputs under ``perfbench/.data`` (excluded from set-up time);
scratch state (Spark local dirs, warehouse, temp files) lives under
``perfbench/.work/<pid>`` and is removed at exit.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it (``RECORD {...}``) is the run record: machine and
engine configuration, seed, input sizes, every failure by request id,
and the figures behind each metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import sys
import threading
import time

PROCESS_T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, ".data")
WORK_DIR = os.path.join(HERE, ".work", str(os.getpid()))
NPROC = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
DRIVER_MEMORY = "2g"
REQUEST_TIMEOUT_S = 120.0
# shared_scan set-up: rounds of the workload before the timed window
WARM_ROUNDS = 2
# corpus set-up: this many passes on each of NPROC concurrent callers.
# The operators' planning code runs on the calling thread, so parallel
# callers bring the JIT near its plateau in less than half the time of
# sequential passes; after one sequential pass the queries still ran
# ~25% slow for the next 30 s, and how much of that a window caught
# varied run to run
CORPUS_WARM_PASSES = 3

sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

E2E = ["latency_p50_ms", "latency_tail_ms", "throughput_qps", "ok_frac", "setup_s", "peak_rss_mb"]
E2E_UNITS = {
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_qps": "1/s",
    "ok_frac": "frac",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_spec() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


# -- engine lifecycle ----------------------------------------------------


def _prepare_env() -> None:
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_DIR, "local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = tmp


def new_session():
    from sparksql_server_spark import get_session

    return get_session(
        "perfbench",
        cpus=NPROC,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
            "spark.local.dir": os.path.join(WORK_DIR, "local"),
            # the whole heap is committed up front (-Xms = the 2g max),
            # so peak RSS does not wander with heap-resizing decisions;
            # temp files stay in the checkout (no /tmp/hsperfdata file)
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData"
                f" -Djava.io.tmpdir={os.path.join(WORK_DIR, 'tmp')}"
            ),
        },
    )


def stop_jvm(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        if gw is not None:
            gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    reap_children()


def reap_children(timeout: float = 10.0) -> None:
    """Wait for every remaining descendant (Python workers outlive the
    JVM by a moment), then kill what is left."""
    import signal

    from probes import tree_pids

    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in tree_pids() if p != os.getpid()]
        if not left:
            return
        if time.monotonic() >= deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


# -- gateway workloads ---------------------------------------------------


class Gateway:
    """The engine behind its TCP gateway plus the benchmark's clients."""

    def __init__(self, data: dict, n_clients: int) -> None:
        from datagen import CSV_COLUMNS
        from pyspark.sql.types import StructType
        from sparksql_server_spark.plans.analysis import scan_fingerprints
        from sparksql_server_spark.server import SparkSQLClient, WorkSharingServer

        self.spark = new_session()
        schema = StructType.fromDDL(", ".join(f"{n} {t}" for n, t in CSV_COLUMNS))
        self.spark.read.schema(schema).option("header", True).csv(
            data["csv_dir"]
        ).createOrReplaceTempView(W.CSV_VIEW)
        # the clients send in rounds: a window of n_clients jobs drains
        # each round as one batch
        self.server = WorkSharingServer(self.spark, data["sf_dir"], window_size=n_clients).start()
        # the CSV replica joins the cache rewrite's view registry next
        # to the parquet tables the server registered itself
        for fp in scan_fingerprints(self.spark.table(W.CSV_VIEW)):
            self.server.executor.source_views[fp] = W.CSV_VIEW
        self.clients = [
            SparkSQLClient(self.server.address, timeout=REQUEST_TIMEOUT_S)
            for _ in range(n_clients)
        ]
        # warm-up: rounds of the workload from a fixed stream, so the
        # gateway path and the CSV scan are warm before the timed window
        streams = [W.shared_scan_stream(W.WARM_SEED, i, n_clients) for i in range(n_clients)]
        for _ in range(WARM_ROUNDS):
            self._concurrently([(c, next(st)) for c, st in zip(self.clients, streams)])

    @staticmethod
    def _concurrently(pairs) -> list:
        out = [None] * len(pairs)

        def one(i: int, c, sql: str) -> None:
            out[i] = c.sql(sql)

        threads = [threading.Thread(target=one, args=(i, c, q)) for i, (c, q) in enumerate(pairs)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return out

    def stats(self) -> dict:
        return self.server.handle_request({"server_stats": True})["stats"]

    def close(self) -> None:
        for c in self.clients:
            try:
                c.close()
            except Exception:
                pass
        self.server.shutdown()


def _send(client, sql: str, rid: int, traced: bool) -> dict:
    req = {"sql": sql}
    if traced:
        req["trace_id"] = rid
    try:
        return client.request(req)
    except Exception as exc:  # timeout or broken connection
        return {"status": "error", "error": f"{type(exc).__name__}: {exc}"}


def run_shared_scan(gw: Gateway, seed: int, seconds: float, traced: bool) -> list[dict]:
    """Closed loop in rounds: every client sends one request, and the
    next round starts when all have their replies, so each window holds
    one request per client."""
    reqs: list[dict] = []
    lock = threading.Lock()
    n = len(gw.clients)
    deadline = time.monotonic() + seconds
    go = {"on": True}

    def check_deadline() -> None:  # runs once per round, in one thread
        go["on"] = time.monotonic() < deadline

    barrier = threading.Barrier(n, action=check_deadline)

    def client_loop(ci: int) -> None:
        stream = W.shared_scan_stream(seed, ci, n)
        for k, sql in enumerate(stream):
            barrier.wait()
            if not go["on"]:
                return
            rid = ci * 100000 + k
            t0 = time.monotonic()
            reply = _send(gw.clients[ci], sql, rid, traced)
            t1 = time.monotonic()
            with lock:
                reqs.append({"rid": rid, "sql": sql, "t0": t0, "t1": t1, "reply": reply})

    threads = [threading.Thread(target=client_loop, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return reqs


def check_gateway(reqs: list[dict], data: dict) -> list[dict]:
    """Oracle pass (outside the timed window): every reply against
    DuckDB over the same files. Returns the failures."""
    import oracle

    con = oracle.connect(data["sf_dir"], csv_dir=data["csv_dir"])
    want: dict[str, tuple] = {}
    failures = []
    for r in reqs:
        reply = r["reply"]
        if reply.get("status") != "done":
            failures.append({"rid": r["rid"], "why": f"error reply: {str(reply.get('error'))[:200]}"})
            continue
        if reply.get("truncated"):
            failures.append({"rid": r["rid"], "why": "truncated reply"})
            continue
        if r["sql"] not in want:
            want[r["sql"]] = oracle.answer(con, r["sql"])
        cols, rows = want[r["sql"]]
        why = oracle.compare(reply.get("columns") or [], reply.get("rows") or [], cols, rows)
        if why:
            failures.append({"rid": r["rid"], "why": why})
    con.close()
    return failures


# -- corpus --------------------------------------------------------------


def run_corpus(spark, sf_dir: str, seed: int | str, seconds: float, passes: int = 0) -> list[dict]:
    """Cycle the listed queries for ``seconds``, or ``passes`` whole
    passes when given."""
    from sparksql_server_spark.operators import QUERIES

    reqs = []
    t_end = time.monotonic() + seconds
    for k, name in enumerate(W.corpus_stream(seed)):
        done = k >= passes * len(W.CORPUS) if passes else time.monotonic() >= t_end
        if done:
            break
        t0 = time.monotonic()
        tb = err = None
        try:
            df = QUERIES[name](spark, sf_dir)
            tb = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:
            err = f"{type(exc).__name__}: {str(exc)[:200]}"
        t1 = time.monotonic()
        tb = tb or t1
        reqs.append({"rid": k, "sql": name, "t0": t0, "tb": tb, "t1": t1,
                     "reply": {"status": "error", "error": err} if err else {"status": "done"}})
    return reqs


def warm_corpus(spark, sf_dir: str) -> None:
    """Set-up: NPROC callers, each making CORPUS_WARM_PASSES passes in
    its own fixed order, all at once."""
    threads = [
        threading.Thread(target=run_corpus, args=(spark, sf_dir, f"warm/{i}", 0.0, CORPUS_WARM_PASSES))
        for i in range(NPROC)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def collect_query(spark, name: str, sf_dir: str):
    """(columns, rows) of one registered query, or the error text."""
    from sparksql_server_spark.operators import QUERIES

    try:
        df = QUERIES[name](spark, sf_dir)
        return list(df.columns), [tuple(x) for x in df.collect()]
    except Exception as exc:
        return f"{type(exc).__name__}: {str(exc)[:200]}"


def check_corpus(results: dict, reqs: list[dict], sf_dir: str) -> list[dict]:
    """Each listed query's collected result against its registered
    DuckDB oracle; every timed execution of a mismatching query fails."""
    import oracle
    from sparksql_server_spark.operators import ORACLES

    con = oracle.connect(sf_dir)
    verdict = {}
    for name, got in results.items():
        if isinstance(got, str):
            verdict[name] = got
            continue
        try:
            cols, rows = oracle.answer(con, ORACLES[name])
            verdict[name] = oracle.compare(got[0], got[1], cols, rows)
        except Exception as exc:
            verdict[name] = f"oracle: {type(exc).__name__}: {str(exc)[:200]}"
    con.close()
    failures = []
    for r in reqs:
        if r["reply"]["status"] != "done":
            failures.append({"rid": r["rid"], "why": r["reply"]["error"]})
        elif verdict.get(r["sql"]):
            failures.append({"rid": r["rid"], "why": f"{r['sql']}: {verdict[r['sql']]}"})
    return failures


# -- metrics -------------------------------------------------------------


def per_query_ms(reqs: list[dict], key=lambda r: r["t1"] - r["t0"]) -> dict[str, float]:
    """Median time of each corpus query, in ms."""
    by: dict[str, list[float]] = {}
    for r in reqs:
        by.setdefault(r["sql"], []).append(key(r) * 1e3)
    return {name: W.median(xs) for name, xs in sorted(by.items())}


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def e2e_metrics(
    wl: str, reqs: list[dict], failures: list[dict], setup_s: float, rss_mb: float
) -> tuple[dict, dict]:
    """The end-to-end figures of one run, plus what stands behind them.

    ``shared_scan`` pools every request. ``corpus`` runs seven queries
    whose latencies differ by 4x, so a pooled rank statistic would sit
    on whichever query happens to hold that rank; it is summarised per
    query instead: the p50 is the geometric mean of the per-query
    medians, the tail is that p50 times the tail of each request's
    latency over its own query's median, and the throughput is the
    rate of a pass made of median executions."""
    failed_ids = {f["rid"] for f in failures}
    ok = [r for r in reqs if r["rid"] not in failed_ids]
    n_fail = len(reqs) - len(ok)
    if wl == "corpus" and ok:
        meds = per_query_ms(ok)
        p50 = geomean(meds.values())
        ratios = [(r["t1"] - r["t0"]) * 1e3 / meds[r["sql"]] for r in ok]
        tail_ratio, pct, beyond = W.tail_stat(ratios)
        tail = p50 * tail_ratio
        qps = len(meds) / (sum(meds.values()) / 1e3)
        samples = len(ratios)
    else:
        lat = [(r["t1"] - r["t0"]) * 1e3 for r in ok] or [float("nan")]
        p50 = W.median(lat)
        tail, pct, beyond = W.tail_stat(lat)
        span = max(r["t1"] for r in reqs) - min(r["t0"] for r in reqs)
        qps = len(ok) / max(1e-9, span)
        samples = len(ok)
    vals = {
        "latency_p50_ms": p50,
        "latency_tail_ms": tail,
        "throughput_qps": qps,
        "ok_frac": 1.0 - n_fail / len(reqs),
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
    }
    extra = {
        "tail_percentile": round(pct, 2),
        "tail_samples_beyond": beyond,
        "samples": samples,
        "failed": n_fail,
        "failed_frac": n_fail / len(reqs),
    }
    if wl == "corpus":
        extra["per_query_p50_ms"] = per_query_ms(ok)
        extra["completed_qps"] = len(ok) / max(1e-9, max(r["t1"] for r in reqs) - min(r["t0"] for r in reqs))
    return vals, extra


def layer_metrics(reqs, tr, stats0: dict, stats1: dict, eng: dict, corpus_reqs=None) -> dict:
    from probes import span_cost_us

    def d(key: str) -> float:
        return float(stats1.get(key, 0) - stats0.get(key, 0))

    def med(xs):
        return W.median(xs) if xs else 0.0

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    n = max(1, len(reqs))
    m: dict[str, float] = {}
    # gateway
    handle = {s["rid"]: (s["end"] - s["start"]) * 1e3 for s in tr.spans if s["name"] == "gateway.handle"}
    client = {s["rid"]: (s["end"] - s["start"]) * 1e3 for s in tr.spans if s["name"] == "gateway.client"}
    m["gateway.handle_ms"] = med(list(handle.values()))
    m["gateway.wire_ms"] = med([client[k] - handle[k] for k in client if k in handle])
    # results
    gets = [s for s in tr.spans if s["name"] == "results.get"]
    m["results.hit_ratio"] = sum(1 for s in gets if s["hit"]) / len(gets) if gets else 0.0
    m["results.get_ms"] = mean([(s["end"] - s["start"]) * 1e3 for s in gets])
    m["results.invalidations"] = d("result_cache_invalidations")
    # batcher
    drains = [e for e in tr.events if e["name"] == "batcher.drain"]
    m["batcher.queue_wait_ms"] = med([w * 1e3 for e in drains for w in e["waits"]])
    m["batcher.batch_jobs"] = mean([e["jobs"] for e in drains])
    # scheduler
    jobs = [e for e in tr.events if e["name"] == "scheduler.job"]
    m["scheduler.analyze_ms"] = med(tr.durations_ms("scheduler.analyze"))
    m["scheduler.run_batch_ms"] = med(tr.durations_ms("scheduler.run_batch"))
    m["scheduler.job_exec_ms"] = med([e["elapsed"] * 1e3 for e in jobs if e["elapsed"] is not None])
    m["scheduler.jobs_failed"] = d("jobs_failed")
    # detector
    det = [s for s in tr.spans if s["name"] == "detector.detect"]
    m["detector.ms"] = mean([(s["end"] - s["start"]) * 1e3 for s in det])
    m["detector.shared_bag_frac"] = (
        sum(s["shared_jobs"] for s in det) / max(1, sum(s["jobs"] for s in det)) if det else 0.0
    )
    # mrshare
    m["mrshare.plan_ms"] = mean(tr.durations_ms("mrshare.plan"))
    m["mrshare.materialize_ms"] = mean(tr.durations_ms("mrshare.materialize"))
    m["mrshare.merged_job_frac"] = d("mrshare_merged_jobs") / d("jobs_run") if d("jobs_run") else 0.0
    m["mrshare.demux_fallbacks"] = d("mrshare_demux_fallbacks")
    # cache
    sc = [s for s in tr.spans if s["name"] == "cache.should_cache"]
    m["cache.admit_frac"] = sum(1 for s in sc if s["admit"]) / len(sc) if sc else 0.0
    m["cache.build_ms"] = sum(
        (s["end"] - s["start"]) * 1e3 for s in tr.spans if s["name"] == "cache.ensure_cached" and s["built"]
    )
    # operators: geometric means of the per-query medians, as for the
    # corpus end-to-end figures
    cq = corpus_reqs or []
    build = per_query_ms(cq, lambda r: r["tb"] - r["t0"])
    execute = per_query_ms(cq, lambda r: r["t1"] - r["tb"])
    m["operators.build_ms"] = geomean(build.values()) if cq else 0.0
    m["operators.exec_ms"] = geomean(execute.values()) if cq else 0.0
    for module, name in W.CORPUS:
        m[f"operators.{module}.exec_ms"] = execute.get(name, 0.0)
    # engine
    m["engine.input_bytes_per_req"] = eng["input_bytes"] / n
    m["engine.shuffle_bytes_per_req"] = eng["shuffle_bytes"] / n
    m["engine.task_cpu_ms_per_req"] = eng["task_cpu_ms"] / n
    m["engine.gc_ms"] = float(eng["gc_ms"])
    # self time per layer, per request
    selft = tr.self_ms_by_layer()
    for layer in ("gateway", "results", "scheduler", "detector", "mrshare", "cache"):
        m[f"self.{layer}_ms_per_req"] = selft.get(layer, 0.0) / n
    # tracing overhead per request: the calibrated cost of one span
    # times the spans a request records
    m["trace.span_cost_us"] = span_cost_us()
    m["trace.spans_per_req"] = len(tr.spans) / n
    m["trace.overhead_ms_per_req"] = m["trace.span_cost_us"] * m["trace.spans_per_req"] / 1e3
    return m


# -- main ----------------------------------------------------------------


def versions() -> dict:
    import duckdb
    import pyspark

    return {"spark": pyspark.__version__, "python": platform.python_version(), "duckdb": duckdb.__version__}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["shared_scan", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "sparksql_server_spark", "__init__.py")):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _prepare_env()
    import datagen

    data = datagen.ensure_data(DATA_DIR)
    if data["build_s"]:
        # the input build is excluded from the run: restart the peak
        # resident-set count it raised
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    traced = bool(args.trace)
    tr = None
    if traced:
        from probes import Tracer, install_server_tracing

        tr = Tracer()
        install_server_tracing(tr)
    from probes import cpu_times, peak_rss_mb, stage_delta, stage_totals

    wl = args.workload
    spark = gw = None
    try:
        if wl == "corpus":
            from sparksql_server_spark.catalog import register_tables
            from sparksql_server_spark.operators import QUERIES  # noqa: F401 — registry import is set-up

            spark = new_session()
            register_tables(spark, data["sf_dir"])
            warm_corpus(spark, data["sf_dir"])
            before = stage_totals(spark)
            setup_s = time.monotonic() - PROCESS_T0 - data["build_s"]
            cpu0 = cpu_times()
            reqs = run_corpus(spark, data["sf_dir"], args.seed, args.seconds)
            cpu1 = cpu_times()
            eng = stage_delta(before, stage_totals(spark))
            stats0 = stats1 = {}
            rss = peak_rss_mb()
            # each listed query collected once for the oracle pass
            results = {name: collect_query(spark, name, data["sf_dir"]) for _m, name in W.CORPUS}
            failures = check_corpus(results, reqs, data["sf_dir"])
        else:
            gw = Gateway(data, NPROC)
            spark = gw.spark
            if tr is not None:
                tr.spans.clear()
                tr.events.clear()
            stats0 = gw.stats()
            before = stage_totals(spark)
            setup_s = time.monotonic() - PROCESS_T0 - data["build_s"]
            cpu0 = cpu_times()
            reqs = run_shared_scan(gw, args.seed, args.seconds, traced)
            cpu1 = cpu_times()
            eng = stage_delta(before, stage_totals(spark))
            stats1 = gw.stats()
            rss = peak_rss_mb()
            failures = check_gateway(reqs, data)
        conf = spark.sparkContext.getConf()
        engine_conf = {"master": spark.sparkContext.master, "spark.driver.memory": conf.get("spark.driver.memory")}
    finally:
        if gw is not None:
            gw.close()
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(WORK_DIR, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK_DIR))
        except OSError:  # another run's directory is still there
            pass

    vals, extra = e2e_metrics(wl, reqs, failures, setup_s, rss)
    record = {
        "workload": wl,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": NPROC,
        **engine_conf,
        **versions(),
        "data": {k: data[k] for k in ("data_seed", "data_version", "csv_bytes", "csv_rows", "parquet_bytes")},
        "admission_floor_bytes": datagen.ADMISSION_FLOOR_BYTES,
        "csv_over_floor": data["csv_bytes"] > datagen.ADMISSION_FLOOR_BYTES,
        "input_build_s": round(data["build_s"], 3),
        "attempted": len(reqs),
        "failures": failures,
        "server_stats_delta": {k: stats1[k] - stats0.get(k, 0) for k in stats1 if isinstance(stats1[k], (int, float))},
        "engine": eng,
        # share of the machine's CPU time taken by other guests on the
        # same host during the window: a noisy neighbour shows here
        "host_steal_frac": round((cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]), 4),
        "e2e": vals,
        **extra,
    }
    if traced:
        metrics_vals = layer_metrics(reqs, tr, stats0, stats1, eng, reqs if wl == "corpus" else None)
        record["traced_e2e"] = vals
        tr.dump(os.path.join(DATA_DIR, f"spans_{wl}_{args.seed}.json"))
        units = per_layer_spec()
        metrics = {k: {"value": float(metrics_vals[k]), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(vals[k]), "unit": E2E_UNITS[k]} for k in E2E}
    print("RECORD " + json.dumps(record, default=str))
    print(json.dumps({"correct": not failures, "attempted": len(reqs), "failed": extra["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
