"""Repository benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

``--trace 0`` times closed-loop end-to-end jobs for ``--seconds`` and
prints every end-to-end metric; ``--trace 1`` runs the plan prefixes,
the microbench and the SQL counters and prints every per-layer metric.
Both run the workload's correctness check. Human-readable lines go first;
the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
N_SETUP = 3            # set-ups per run; setup_s is their median
MIN_JOBS = 3           # timed end-to-end jobs per run, however long they take
TRACE_ROUNDS = (2, 4)  # min/max rounds of plan prefixes in a traced run
SUSPECT_FACTOR = 2.0   # a job slower than this x the run median is stamped


def log(msg: str) -> None:
    print(msg, flush=True)


def new_session():
    from proj_spark.session import get_spark

    spark = get_spark("perfbench", extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    def __init__(self, name: str, seed: int, seconds: float, tracer, spark):
        from perfbench.workloads import WORKLOADS

        self.wl = WORKLOADS[name](seed, CACHE)
        self.seconds = seconds
        self.tracer = tracer
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def attempt(self, fn, *args):
        """Run one operation; an exception or a False result is a failure."""
        self.attempted += 1
        try:
            ok = fn(*args)
        except Exception:  # noqa: BLE001 - counted, reported, run goes on
            self.errors.append(traceback.format_exc(limit=3))
            ok = False
        if ok is False:
            self.failed += 1
        return ok

    # ---- set-up: session start, input cache, driver objects, oracle, warm-up
    def setup(self) -> dict:
        tr, wl = self.tracer, self.wl
        times, starts, firsts = [], [], []
        cold = None
        for rep in range(N_SETUP):
            with tr.span("setup", rep=rep):
                t0 = time.perf_counter()
                with tr.span("session.start"):
                    if self.spark is not None:
                        self.spark.stop()
                    self.spark = new_session()
                t1 = time.perf_counter()
                with tr.span("inputs.ensure"):
                    generated = wl.ensure_input()
                with tr.span("setup.prepare"):
                    wl.prepare(self.spark)
                with tr.span("oracle"):
                    wl.oracle()
                t2 = time.perf_counter()
                with tr.span("session.first_action"):
                    self.attempt(wl.warmup)
                t3 = time.perf_counter()
            times.append(t3 - t0)
            starts.append(t1 - t0)
            firsts.append(t3 - t2)
            if rep == 0:
                cold = {"setup_s": t3 - t0, "input_generated": generated}
        return {"setup_s": statistics.median(times), "setup_times": times,
                "session.start_s": statistics.median(starts),
                "session.first_action_s": statistics.median(firsts),
                "cold": cold}

    # ---- closed-loop end-to-end jobs
    def timed_jobs(self) -> dict:
        from perfbench.host import RssSampler

        walls = []
        # one untimed job first: the first full job after set-up runs
        # ~30-40% slower (the warm-up covers a few files only)
        self.attempt(self.wl.run)
        deadline = time.perf_counter() + self.seconds
        with RssSampler() as rss:
            while len(walls) < MIN_JOBS or time.perf_counter() < deadline:
                t0 = time.perf_counter()
                self.attempt(self.wl.run)
                walls.append(time.perf_counter() - t0)
        med = statistics.median(walls)
        return {"walls": walls, "median_wall_s": med,
                "rows_per_s": statistics.median(self.wl.rows / w for w in walls),
                "suspect": [i for i, w in enumerate(walls)
                            if w > SUSPECT_FACTOR * med],
                "peak_rss_mb": rss.peak_mb, "rss_at_peak": rss.at_peak,
                "python_rss_mb": rss.python_peak_kb / 1024.0,
                "rss_samples": rss.samples}

    def check(self) -> dict:
        res = {}

        def do():
            res.update(self.wl.check())
            res["invalid_frac"] = res["invalid_rows"] / self.wl.rows
            return bool(res["ok"])

        with self.tracer.span("check"):
            self.attempt(do)
        return res

    # ---- traced pass: plan prefixes, SQL counters, microbench
    def traced(self) -> dict:
        from perfbench import micro

        tr, wl = self.tracer, self.wl
        durations = {s: [] for s, _, _ in wl.stages}
        counters, untraced = {}, []
        # one more end-to-end job first: the first after set-up runs slower
        self.attempt(wl.run)
        deadline = time.perf_counter() + self.seconds
        rounds = 0
        while rounds < TRACE_ROUNDS[0] or (
                rounds < TRACE_ROUNDS[1] and time.perf_counter() < deadline):
            # untraced reference job, alternating with the traced prefixes
            tr.enabled = False
            t0 = time.perf_counter()
            self.attempt(wl.run)
            untraced.append(time.perf_counter() - t0)
            tr.enabled = True
            for stage, layer, _ in wl.stages:
                with tr.span(f"stage.{stage}", layer=layer) as rec:
                    c = self.attempt(wl.run_stage, stage)
                durations[stage].append(rec["end"] - rec["start"])
                if isinstance(c, dict):
                    counters[stage] = c
            rounds += 1
        untraced_wall = statistics.median(untraced)
        med = {s: statistics.median(v) for s, v in durations.items()}
        layers = {}
        for stage, layer, contains in wl.stages:
            inc = med[stage] - (med[contains] if contains else 0.0)
            layers[layer] = max(inc, 0.0)
        traced_wall = sum(med[s] for s in wl.end_to_end)
        out = {"rounds": rounds, "stage_median_s": med, "layers": layers,
               "counters": counters,
               "layer_sum_s": sum(layers.values()),
               "untraced_wall_s": untraced_wall,
               "traced_wall_s": traced_wall}
        out["layer_sum_ratio"] = out["layer_sum_s"] / untraced_wall
        out["overhead_s"] = traced_wall - untraced_wall
        with tr.span("micro"):
            out["micro"] = {**micro.kernel_chain(wl.seed, tr),
                            **micro.plan_specs(wl.seed, tr)}
        return out


def layer_values(wl, setup: dict, tr: dict, extra: dict) -> dict:
    """Every per-layer figure of a traced run, by metric name. Counters of
    layers a workload does not have read 0 (lineage on a noop sink, joins
    in crs_pipelines)."""
    c = tr["counters"]
    py = c[[s for s, _, _ in wl.stages
            if "python_eval_nodes" in c.get(s, {})][-1]]
    udf_stage = [s for s, layer, _ in wl.stages if layer.startswith("functions.")][-1]
    join = c.get("join", c.get("match", {}))
    lineage = c.get("write", {})
    v = {
        "session.start_s": setup["session.start_s"],
        "session.first_action_s": setup["session.first_action_s"],
        "sources.scan_s": tr["stage_median_s"]["scan"],
        "sources.bytes_read": c["scan"]["bytes_read"],
        "sources.rows_read": c["scan"]["rows_read"],
        "sources.files_read": c["scan"]["files_read"],
        "functions.arrow_roundtrip_s": tr["stage_median_s"]["arrow"],
        "functions.udf_s": tr["stage_median_s"][udf_stage],
        "functions.python_eval_nodes": py["python_eval_nodes"],
        "functions.bytes_to_python": py["bytes_to_python"],
        "functions.bytes_from_python": py["bytes_from_python"],
        "functions.rows_to_python": py["rows_from_python"],
        "spatial_join.cover_s": extra.get("cover_s", 0.0),
        "spatial_join.cover_rows": extra.get("cover_rows", 0),
        "spatial_join.candidate_pairs": extra.get("candidate_pairs", 0),
        "spatial_join.matched_pairs": extra.get("matched_pairs", 0),
        "spatial_join.match_yield": extra.get("match_yield", 0.0),
        "spatial_join.shuffle_bytes": join.get("shuffle_bytes", 0),
        "lineage.files_written": lineage.get("files_written", 0),
        "lineage.bytes_written": lineage.get("bytes_written", 0),
        "lineage.buckets_written": lineage.get("buckets_written", 0),
        "trace.layer_sum_ratio": tr["layer_sum_ratio"],
        "trace.overhead_s": tr["overhead_s"],
        **tr["micro"],
    }
    for layer, t in tr["layers"].items():
        v[f"{layer}.self_s"] = t
    return v


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 spark) -> dict:
    from perfbench.spans import Tracer

    tracer = Tracer(f"{name}-{seed}-{int(time.time())}", enabled=trace)
    r = Runner(name, seed, seconds, tracer, spark)
    res = {"workload": name, "seed": seed}
    with tracer.span("run"):
        res["setup"] = r.setup()
        if not trace:
            res["jobs"] = r.timed_jobs()
        else:
            res["trace"] = r.traced()
        res["check"] = r.check()
        if trace:
            extra = {}
            wl = r.wl
            if hasattr(wl, "polys"):
                from proj_spark.operators.spatial_join import polygon_cover

                with tracer.span("spatial_join.polygon_cover") as rec:
                    extra["cover_rows"] = len(polygon_cover(wl.polys, 8))
                extra["cover_s"] = rec["end"] - rec["start"]
                with tracer.span("spatial_join.candidate_pairs"):
                    extra["candidate_pairs"] = r.attempt(wl.candidate_pairs)
                extra["matched_pairs"] = res["check"].get("pairs", 0)
                extra["match_yield"] = extra["matched_pairs"] / max(
                    extra["candidate_pairs"] or 0, 1)
            res["per_layer"] = layer_values(wl, res["setup"], res["trace"], extra)
    res["attempted"], res["failed"], res["errors"] = r.attempted, r.failed, r.errors
    res["correct"] = bool(res["check"].get("ok")) and r.failed == 0
    if trace:
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        tracer.write(os.path.join(CACHE, "traces", f"{tracer.run_id}.jsonl"))
        res["span_self_s"] = {}
        for s in tracer.spans:
            if s["parent"] is not None and tracer.spans[s["parent"]]["name"] == "run":
                res["span_self_s"][s["name"]] = res["span_self_s"].get(
                    s["name"], 0.0) + tracer.self_time(s)
    res["spark"] = r.spark
    return res


def report(res: dict, trace: bool) -> None:
    name = res["workload"]
    st = res["setup"]
    log(f"== {name} seed={res['seed']}")
    log(f"  setup_s           {st['setup_s']:.4f} s  (median of {len(st['setup_times'])}; "
        f"cold first set-up {st['cold']['setup_s']:.2f} s, "
        f"input generated: {st['cold']['input_generated']})")
    if not trace:
        j = res["jobs"]
        log(f"  rows_per_s        {j['rows_per_s']:.1f} rows/s  (median of {len(j['walls'])} jobs; "
            f"job walls {', '.join(f'{w:.3f}' for w in j['walls'])} s)")
        if j["suspect"]:
            log(f"  suspect jobs (> {SUSPECT_FACTOR}x median, kept in stats): {j['suspect']}")
        log(f"  peak_rss_mb       {j['peak_rss_mb']:.1f} MB  (JVM + python workers, max of {j['rss_samples']} samples 0.1 s apart; "
            f"at peak {json.dumps({k: round(v, 1) for k, v in j['rss_at_peak'].items()})})")
        log(f"  python_rss_mb     {j['python_rss_mb']:.1f} MB  (python workers alone, same samples)")
    ck = res["check"]
    log(f"  failed_frac       {res['failed'] / res['attempted']:.4f}  "
        f"({res['failed']} of {res['attempted']} operations)")
    if "invalid_frac" in ck:
        log(f"  invalid_frac      {ck['invalid_frac']:.6f}  ({ck['invalid_rows']} non-finite rows)")
    sb = ck.get("stored_bytes_per_row")
    log(f"  stored_bytes_per_row {sb if sb is not None else 0:.2f} bytes/row"
        + ("" if sb is not None else "  (noop sink)"))
    log(f"  check             {'PASS' if ck.get('ok') else 'FAIL'} "
        + json.dumps({k: v for k, v in ck.items() if k != 'ok'}))
    for e in res["errors"]:
        log("  error: " + e.strip().replace("\n", "\n    "))
    if trace:
        t = res["trace"]
        log(f"  traced rounds {t['rounds']}; layer self-times (incremental prefix medians):")
        for k, v in t["layers"].items():
            log(f"    {k:32s} {v:.4f} s")
        log(f"    {'sum':32s} {t['layer_sum_s']:.4f} s  = {t['layer_sum_ratio']:.3f} x untraced wall "
            f"{t['untraced_wall_s']:.4f} s; tracing overhead {t['overhead_s']:+.4f} s")
        for k, v in sorted(res["per_layer"].items()):
            log(f"    {k:40s} {v}")
        log("  span self-times: " + json.dumps(
            {k: round(v, 4) for k, v in res["span_self_s"].items()}))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "proj_spark")):
        print(f"perfbench: no proj_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2

    fp = host.configure(CACHE)
    probe_start = host.loopback_probe()
    log("host " + json.dumps(fp))
    results, spark = [], None
    try:
        for n in names:
            res = run_workload(n, args.seed, args.seconds, bool(args.trace),
                               spark)
            spark = res.pop("spark")
            results.append(res)
            report(res, bool(args.trace))
    finally:
        host.stop_spark(spark)
    probe_end = host.loopback_probe()
    log("loopback probe (evidence only) start " + json.dumps(probe_start)
        + " end " + json.dumps(probe_end))

    out = {"correct": all(r["correct"] for r in results),
           "attempted": sum(r["attempted"] for r in results),
           "failed": sum(r["failed"] for r in results)}
    out["metrics"] = {}
    if len(results) == 1:
        # exactly the metrics BENCHMARK.json names, with its units
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        r = results[0]
        if args.trace:
            values, wanted = r["per_layer"], spec["per_layer"]
        else:
            values = {"rows_per_s": r["jobs"]["rows_per_s"],
                      "python_rss_mb": r["jobs"]["python_rss_mb"],
                      "peak_rss_mb": r["jobs"]["peak_rss_mb"],
                      "setup_s": r["setup"]["setup_s"]}
            wanted = spec["end_to_end"]
        out["metrics"] = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                          for m in wanted}
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
