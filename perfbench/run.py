#!/usr/bin/env python3
"""Benchmark of osml10n_spark: one workload per invocation.

    python3 perfbench/run.py --cores 4 --workload l10n_unique --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout that holds ``osml10n_spark/``.  A run
makes the workload's inputs from ``--seed`` (cached under
``.perfbench/``), sets up a Spark session plus warm-up passes, then
runs timed passes back to back (a closed loop with one client) until
``--seconds`` of pass time are measured.  Every pass's output is
checked.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (see README.md in this directory).
"""
from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
# the keys of workloads.WORKLOADS, listed here so that argument parsing
# and the package check run before anything imports pyspark
WORKLOAD_NAMES = ("l10n_unique", "job_repeat")
PASS_DEADLINE_S = 110.0         # no pass starts later than this into a run
ACTION_FIELDS = ("wall_s", "self_s", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                 "input_records", "shuffle_write_mb", "spill_mb")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4,
                   help="Spark runs as local[N]")
    args = p.parse_args(argv)
    if args.seed < 0:                # numpy seeds must be non-negative
        p.error("--seed must be >= 0")
    return args


def configure(seed: int) -> Path:
    """Keep every file the run writes inside the checkout, and point the
    Spark driver and the Python workers at the repo and the boundary fixture."""
    from fixture import write_fixture

    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    fixture = WORK / "inputs" / "fixture" / str(seed)
    if not (fixture / "boundaries.geojson").exists():
        write_fixture(fixture, seed)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "OSML10N_BOUNDARIES": str(fixture),
        # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    sys.path.insert(0, str(ROOT))
    return fixture


def start_session(cores: int):
    from osml10n_spark.engine.session import build_session
    spark = build_session(app_name="perfbench", cores=cores, extra_conf={
        "spark.driver.memory": "1g",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_processes(spark) -> None:
    """Stop the session, then the JVM and every process under this one,
    and wait until each has ended.  The JVM exits once its stdin closes;
    left to notice that when this process exits, it outlives the run.
    The py4j gateway is shut down first, so that no finalizer sends a
    command to the JVM after it has gone."""
    from procstat import descendants, end_processes
    pids = descendants()
    try:
        if spark is not None:
            spark.stop()
    finally:
        pyspark = sys.modules.get("pyspark")
        gateway = pyspark.SparkContext._gateway if pyspark else None
        if gateway is not None:
            gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
        end_processes(pids | descendants(), grace=15.0)
        if proc is not None:
            proc.wait()


def setup(wl, cores: int):
    """Session start plus the workload's warm-up pass.  Returns the
    session and the set-up's CPU seconds (this process and all its
    descendants) and wall seconds."""
    from procstat import tree_usage
    cpu0 = tree_usage()[0]
    t0 = time.perf_counter()
    spark = start_session(cores)
    wl.warmup(spark)
    return spark, tree_usage()[0] - cpu0, time.perf_counter() - t0


def run_passes(spark, wl, seconds: float, t_start: float, tracer=None) -> list[dict]:
    """Timed passes back to back until ``seconds`` of pass time are
    measured and at least ``wl.MIN_PASSES`` passes have run.  With a
    tracer, passes 2, 4, ... are traced and the run ends on an untraced
    one, so each traced pass lies between two untraced passes of the
    same session; pass 0, the slowest while the JIT settles, is never
    one of them."""
    from procstat import PeakRss, host_steal_s, tree_usage
    from spans import attach_stage_metrics, no_span

    passes: list[dict] = []
    measured = 0.0
    min_passes = max(wl.MIN_PASSES, 4 if tracer is not None else 1)
    while len(passes) < min_passes or passes[-1]["traced"] or (
            measured < seconds and time.perf_counter() - t_start < PASS_DEADLINE_S):
        i = len(passes)
        traced = tracer is not None and i > 0 and i % 2 == 0
        span = tracer.span if traced else no_span
        n_spans = len(tracer.spans) if tracer else 0
        wl.prepare(i)
        res, failures = None, []
        with PeakRss() as rss:
            cpu0, steal0 = tree_usage()[0], host_steal_s()
            t0 = time.perf_counter()
            try:
                res = wl.timed(spark, i, span)
            except Exception as e:          # a failed pass is counted, not fatal
                failures = [f"pass {i} raised {e!r}"[:2000]]
            wall = time.perf_counter() - t0
            cpu = tree_usage()[0] - cpu0
            steal = host_steal_s() - steal0
        measured += wall
        if res is not None:
            try:
                failures = wl.check(spark, i, res)
            except Exception as e:
                failures = [f"check of pass {i} raised {e!r}"[:2000]]
        if traced:
            attach_stage_metrics(spark, tracer.spans[n_spans:])
        units = res["units"] if res else 0
        passes.append({"i": i, "traced": traced, "wall_s": wall, "cpu_s": cpu,
                       "steal_s": steal,
                       "peak_rss_mb": rss.peak / 2**20, "units": units,
                       "failures": failures,
                       "extra": res.get("extra", {}) if res else {}})
    return passes


def _settled(passes: list[dict], counted: int) -> list[dict]:
    """The passes that did not fail among passes ``counted // 2`` to
    ``counted - 1``.  The JIT keeps speeding passes up for several
    passes after the warm-up, so the first ones let it settle; a fixed
    window, not a share of however many passes fit, compares runs at
    the same point of that curve."""
    ok = [p for p in passes if not p["failures"]]
    return [p for p in passes[counted // 2:counted] if not p["failures"]] or ok


def end_to_end(passes: list[dict], setup_s: float, counted: int) -> dict:
    """The gated metrics.  RSS is the first pass's peak: later passes add
    JVM heap growth whose size follows the garbage collector's choices
    and varies from run to run.  ``setup_s`` is the set-up's CPU time:
    on a shared host its wall time follows the neighbours' load."""
    first = next(p for p in passes if not p["failures"])
    settled = _settled(passes, counted)
    med = statistics.median
    return {
        "rows_per_s": {"value": med(p["units"] / p["wall_s"] for p in settled),
                       "unit": "rows/s"},
        "cpu_us_per_row": {"value": med(p["cpu_s"] * 1e6 / p["units"]
                                        for p in settled), "unit": "us"},
        "peak_rss_mb": {"value": first["peak_rss_mb"], "unit": "MB"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def layer_table(spans: list[dict]) -> list[dict]:
    """One row per span name: count and the median of each field over
    that name's spans; Spark fields are the span's own jobs'."""
    from spans import STAGE_FIELDS, self_times

    selfs = self_times(spans)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(
            {"wall_s": s["end"] - s["start"], "self_s": selfs[s["id"]],
             **{f: s.get(f, 0) for f in STAGE_FIELDS}})
    return [{"name": name, "n": len(rows),
             **{f: statistics.median(r[f] for r in rows) for f in rows[0]}}
            for name, rows in by_name.items()]


def tracing_overhead(passes: list[dict]) -> float:
    """Median over traced passes of the pass time minus the mean of the
    untraced passes either side of it (run_passes traces passes 2, 4,
    ...), which cancels the speed-up of passes while the JIT settles."""
    diffs = [passes[i]["wall_s"] - (passes[i - 1]["wall_s"]
                                    + passes[i + 1]["wall_s"]) / 2
             for i in range(2, len(passes) - 1, 2)
             if not any(passes[j]["failures"] for j in (i - 1, i, i + 1))]
    return statistics.median(diffs) if diffs else 0.0


def per_layer(wl, passes, tracer, probe_metrics) -> dict:
    from spans import STAGE_FIELDS, self_times, subtree

    selfs = self_times(tracer.spans)
    action = [s for s in tracer.spans
              if s["name"] == wl.action and s["parent"] is None]
    rows = []
    for s in action:
        tree = subtree(tracer.spans, s["id"])
        rows.append({"wall_s": s["end"] - s["start"], "self_s": selfs[s["id"]],
                     **{f: sum(t.get(f, 0) for t in tree) for f in STAGE_FIELDS}})
    med = statistics.median
    ok = [p for p in passes if not p["failures"]]
    metrics = {**probe_metrics,
               **{f"action.{f}": med(r[f] for r in rows) for f in ACTION_FIELDS},
               **{k: med(p["extra"][k] for p in ok) for k in ok[0]["extra"]},
               "trace.overhead_s": tracing_overhead(passes)}
    # one metric set for every workload: a count of a layer the workload's
    # passes do not call is 0
    return {k: {"value": metrics.get(k, 0), "unit": u}
            for k, u in per_layer_units().items()}


def per_layer_units() -> dict[str, str]:
    """Names and units of the per-layer metrics, as BENCHMARK.json lists them."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench["per_layer"]}


def print_report(wl, args, mix, passes, e2e, setup_wall_s, tracer=None) -> None:
    failed = sum(1 for p in passes if p["failures"])
    print(f"# {wl.name} seed={args.seed} local[{args.cores}] closed loop, "
          f"1 client: {len(passes)} passes, {failed} failed, "
          f"fail_frac={failed / max(len(passes), 1):.3f}, "
          f"setup_wall_s={setup_wall_s:.2f}")
    print("# input " + " ".join(f"{k}={v:.4g}" for k, v in mix.items()))
    for p in passes:
        print(f"# pass {p['i']}{' traced' if p['traced'] else ''}: "
              f"wall_s={p['wall_s']:.3f} cpu_s={p['cpu_s']:.2f} "
              f"steal_s={p['steal_s']:.2f} "
              f"units={p['units']} peak_rss_mb={p['peak_rss_mb']:.0f}")
        for f in p["failures"][:5]:
            print(f"# FAIL {f}")
    if e2e:
        v = {k: m["value"] for k, m in e2e.items()}
        print(f"# rows_per_s={v['rows_per_s']:.1f} "
              f"cpu_us_per_row={v['cpu_us_per_row']:.2f} "
              f"peak_rss_mb={v['peak_rss_mb']:.1f} setup_s={v['setup_s']:.3f}")
    extras = [p["extra"] for p in passes if p["extra"]]
    if extras:
        print("# per pass " + " ".join(
            f"{k}={statistics.median(e[k] for e in extras):.4g}"
            for k in extras[0]))
    if tracer is not None:
        print(f"# {'span':<28}{'n':>3}" + "".join(f"{f:>18}" for f in ACTION_FIELDS))
        for r in layer_table(tracer.spans):
            print(f"# {r['name']:<28}{r['n']:>3}"
                  + "".join(f"{r[f]:>18.4g}" for f in ACTION_FIELDS))


def main(argv=None) -> int:
    # a SIGTERM ends the run through the finally blocks, which stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    if not (ROOT / "osml10n_spark" / "__init__.py").is_file():
        print(f"perfbench: no osml10n_spark package under {ROOT}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    fixture = configure(args.seed)

    from osml10n_spark.kernels.geo import Transcriptor
    from osml10n_spark.spatial.boundaries import load_boundaries
    from osml10n_spark.spatial.prepared import PreparedLookup
    from workloads import WORKLOADS

    # load the fixture in this process first: a bad fixture fails here,
    # not inside a Python worker mid-pass
    index = load_boundaries(str(fixture))
    PreparedLookup(index, res=9)
    wl = WORKLOADS[args.workload](args.seed, WORK, Transcriptor(index))
    mix = wl.make_inputs()

    spark, tracer, probe_failures = None, None, []
    try:
        spark, setup_s, setup_wall_s = setup(wl, args.cores)
        if args.trace:
            from probes import kernel_probes, knn_probe, spark_probes
            from spans import Tracer, attach_stage_metrics
            tracer = Tracer(f"{wl.name}-{args.seed}", spark)
        passes = run_passes(spark, wl, args.seconds, t_start, tracer)
        replay = wl.replay(spark)
        if tracer is not None:
            n = len(tracer.spans)
            probe_metrics = spark_probes(spark, wl.probe_table(), tracer.span)
            knn_metrics, probe_failures = knn_probe(
                spark, wl.probe_table(), wl.knn_queries(), tracer.span, args.seed)
            probe_metrics.update(knn_metrics)
            attach_stage_metrics(spark, tracer.spans[n:])
            probe_metrics.update(kernel_probes(wl.probe_table(), fixture,
                                               wl.transcriptor, tracer.span))
    finally:
        stop_processes(spark)
    wl.save_digests()

    failed = sum(1 for p in passes if p["failures"])
    if failed == len(passes):
        print_report(wl, args, mix, passes, None, setup_wall_s)
        print("perfbench: every pass failed", file=sys.stderr)
        return 1
    if tracer is None:
        metrics = end_to_end(passes, setup_s, wl.MIN_PASSES)
        print_report(wl, args, mix, passes, metrics, setup_wall_s)
    else:
        metrics = per_layer(wl, passes, tracer, probe_metrics)
        print_report(wl, args, mix, passes, None, setup_wall_s, tracer)
        for k, m in metrics.items():
            print(f"# {k} = {m['value']:.6g} {m['unit']}")
        path = WORK / "traces" / f"{wl.name}-{args.seed}.json"
        tracer.write(path)
        print(f"# spans written to {path.relative_to(ROOT)}")
    for f in replay:
        print(f"# FAIL replay {f}")
    for f in probe_failures:
        print(f"# FAIL probe {f}")
    correct = failed == 0 and not replay and not probe_failures
    print(json.dumps({"correct": correct,
                      "attempted": len(passes), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
