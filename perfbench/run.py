#!/usr/bin/env python3
"""Closed-loop service benchmark for the real-value ETL engine.

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 10 --trace 0

One process, one long-lived SparkSession on local[nproc], one client that
sends the next request only after the previous reply arrived. Inputs are
generated from --seed (in a child process, cached under .perfbench_work/).
Every reply is checked outside the timed window. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import stats  # noqa: E402
from workloads import WORKLOADS, no_span  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "first_request_s": "s",
    "request_p50_s": "s",
    "request_tail_s": "s",
    "requests_per_s": "1/s",
    "input_rows_per_s": "rows/s",
    "output_bytes_per_input_byte": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measured request time per phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Client:
    """The closed-loop client: one request at a time, checked afterwards."""

    def __init__(self, wl, tracer=None):
        self.wl = wl
        self.tracer = tracer
        self.records: list[dict] = []

    def send(self, kind: str, phase: str) -> dict:
        rid = len(self.records)
        tr = self.tracer if self.tracer is not None and self.tracer.active else None
        if tr is not None:
            tr.request = rid
        t0 = time.perf_counter()
        try:
            reply, err = self.wl.request(kind, tr.span if tr else no_span), None
        except Exception:  # a failed request is counted, not fatal
            reply, err = None, traceback.format_exc(limit=3)
        latency = time.perf_counter() - t0
        if tr is not None:
            tr.request = None
        if err is None:
            try:
                ok, msg = self.wl.check(kind, reply)
            except Exception:
                ok, msg = False, traceback.format_exc(limit=3)
        else:
            ok, msg = False, err
        print(f"request {rid} {phase} {kind} {latency:.3f} s {'ok' if ok else 'FAILED: ' + msg}",
              flush=True)
        rec = {"id": rid, "kind": kind, "phase": phase, "latency": latency, "ok": ok,
               "in_rows": self.wl.input_rows(kind), "in_bytes": self.wl.input_bytes(kind),
               "out_bytes": self.wl.output_bytes(kind, reply) if ok else 0}
        self.records.append(rec)
        return rec

    def measure(self, phase: str, seconds: float, start: int) -> list[dict]:
        """Cycle the workload's kinds from `start` until `seconds` of request
        time have passed and a whole number (at least one) of rounds has been
        sent."""
        kinds, out, busy, i = self.wl.kinds, [], 0.0, start
        while busy < seconds or len(out) % self.wl.round_len or not out:
            rec = self.send(kinds[i % len(kinds)], phase)
            busy += rec["latency"]
            out.append(rec)
            i += 1
        return out


def end_to_end(setup_s: float, first: dict, measured: list[dict]) -> dict:
    lat = [r["latency"] for r in measured]
    busy = sum(lat)
    tail, pct, n = stats.tail(lat)
    print(f"request_tail_s uses percentile {pct:.1f} of {n} samples", flush=True)
    return {
        "setup_s": setup_s,
        "first_request_s": first["latency"],
        "request_p50_s": statistics.median(lat),
        "request_tail_s": tail,
        "requests_per_s": len(lat) / busy,
        "input_rows_per_s": sum(r["in_rows"] for r in measured) / busy,
        "output_bytes_per_input_byte": sum(r["out_bytes"] for r in measured)
        / sum(r["in_bytes"] for r in measured),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    import real_value_etl_spark.api  # noqa: F401  (no engine, no result)

    work = os.path.join(ROOT, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    # keep every scratch file of Python, the JVM and Spark inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    inputs = subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), args.workload,
         "--seed", str(args.seed), "--work", work],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout.strip().splitlines()[-1]
    with open(os.path.join(inputs, "meta.json")) as fh:
        meta = json.load(fh)
    wl = WORKLOADS[args.workload](work, args.seed, inputs, meta)
    print("input properties:", json.dumps(wl.properties(), sort_keys=True), flush=True)
    print("request order:", " ".join(wl.kinds), flush=True)

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    log_dir = os.path.join(work, f"eventlog-{args.workload}-{args.seed}-{os.getpid()}")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})

    from real_value_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{len(os.sched_getaffinity(0))}]", extra_conf=conf)
    session_s = time.perf_counter() - t0
    proc = spark.sparkContext._gateway.proc
    try:
        wl.spark = spark
        tracer = None
        if args.trace:
            from tracing import Tracer, install_engine_spans

            tracer = Tracer(spark.sparkContext)
            install_engine_spans(tracer)
        client = Client(wl, tracer)
        first = client.send(wl.first_kind, "first")
        warm = [client.send(k, "warmup") for k in wl.warmup_kinds]
        setup_s = session_s + first["latency"] + sum(r["latency"] for r in warm)
        start = 0
        if tracer is not None:
            # untraced, traced, traced, untraced: linear drift (the JVM still
            # warming, a neighbour's load) cancels out of the overhead ratio
            for traced in (False, True, True, False):
                if traced and not tracer.active:
                    install_engine_spans(tracer)
                elif not traced:
                    tracer.unpatch_all()
                phase = "measured" if traced else "untraced"
                start += len(client.measure(phase, args.seconds, start))
            measured = [r for r in client.records if r["phase"] == "measured"]
            untraced = [r for r in client.records if r["phase"] == "untraced"]
            counts = wl.layer_counts()
        else:
            measured = client.measure("measured", args.seconds, start)
        jvm_mb = _hwm_mb(proc.pid)
        python_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        rss_mb = jvm_mb + python_mb
        # printed, not gated: JVM heap growth makes it vary ~30% run to run
        print(f"peak_rss_mb {rss_mb:.0f} MB (driver JVM {jvm_mb:.0f}, Python {python_mb:.0f})",
              flush=True)
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    records = client.records
    failed = sum(not r["ok"] for r in records)
    print(f"failed_share {failed / len(records):.6f} ({failed} of {len(records)} requests)")
    if tracer is None:
        metrics = end_to_end(setup_s, first, measured)
        units = END_TO_END
    else:
        from tracing import layer_metrics, per_layer_metric_specs, read_event_log

        events = read_event_log(log_dir)
        ids = {r["id"] for r in measured}
        m = layer_metrics(tracer, events, ids, first["id"])
        m.update(counts)
        traced_p50 = statistics.median(r["latency"] for r in measured)
        untraced_p50 = statistics.median(r["latency"] for r in untraced)
        wall = sum(r["latency"] for r in measured) / len(measured)
        busy = sum(v for k, v in m.items()
                   if k.endswith(".busy_s") and not k.startswith("first_request."))
        m.update({"session.peak_rss_mb": rss_mb,
                  "trace.request_p50_s": traced_p50,
                  "trace.untraced_request_p50_s": untraced_p50,
                  "trace.overhead_ratio": traced_p50 / untraced_p50,
                  "trace.self_time_share": busy / wall})
        units = {s["name"]: s["unit"] for s in per_layer_metric_specs()}
        metrics = {k: float(m.get(k, 0.0)) for k in units}
        span_file = os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(span_file)
        print(f"spans written to {span_file}")
        shutil.rmtree(log_dir)
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
