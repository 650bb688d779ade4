"""Engine benchmark: one workload, one closed-loop driver, checked
outputs, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

NAME is one of the two benchmark workloads (``workloads.MIXES``), one
op group alone, or ``all`` (each benchmark workload in turn, with every
metric printed by name and unit). A run, with everything it writes
under ``<checkout>/.perfbench``:

1. builds the inputs once per checkout (``datagen.py``: the ten engine
   tables at ``SF``; ``stress_input.py``: the near-duplicate corpus on
   the distributed side of the dedup edge switch) and reuses them;
2. set-up, timed as ``setup_s``: starts the session on ``local[cores]``
   (shuffle partitions = cores), stages the inputs with the engine's
   own builders, and runs one warm-up pass at the workload's own input,
   ``cores`` ops at a time, collecting every op's result;
3. checks each result once, untimed: ``verify.compare`` against the
   op's DuckDB oracle SQL (its answer cached per checkout), or the
   committed row count and content hash in ``expected.json``;
4. runs timed passes until ``--seconds`` have elapsed (at least
   ``MIN_PASSES``). Each pass runs every op once, in an order the seed
   permutes, collecting its result as the warm-up did; the frozen
   canary runs after each pass, outside the pass time.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
passes with Spark's event log on, tags each call with
``setJobGroup("<workload>/p<pass>/<group>/<op>")``, prints the
per-layer metrics (per pass), and writes the per-op breakdown to
``.perfbench/trace-<workload>.json`` with the tracing overhead against
the last untraced run of the workload in this checkout.

``--record-expected`` rewrites the ``expected.json`` entries of the
workload's oracle-less ops from the current code; inputs change with
``datagen.py``, so regenerate them together.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor, wait

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pandas as pd  # noqa: E402

import sparkenv  # noqa: E402
import workloads as W  # noqa: E402
from bench import canary  # noqa: E402  the frozen contention probe

SF = 0.02
# dedup_graph's stressed corpus: STRESS_FACTOR tagged copies of every
# document of a STRESS_SF table set, ~134k LSH pairs (the edge switch
# is at 100k)
STRESS_SF = 0.005
STRESS_FACTOR = 32
# passes keep getting faster after the warm-up (mapreduce_dedup: 21-23 s,
# then 18 s, then 16-17 s), so a run whose pass count depended on
# speed alone would mix 1-pass and 2-pass medians; at the benchmark's
# 10 s run length both workloads make exactly two (mapreduce_dedup's
# passes take 15-24 s, decode_store's 5.5-8 s)
MIN_PASSES = 2
EXPECTED = os.path.join(HERE, "expected.json")


# ---------------------------------------------------------------- inputs

def _src_hash(*files: str) -> str:
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def ensure_inputs(workload: str) -> tuple[str, str | None]:
    """Generated once per checkout, keyed by the generating code."""
    data = os.path.join(sparkenv.WORK, "data")
    os.makedirs(data, exist_ok=True)
    gen = os.path.join(HERE, "datagen.py")

    def tables(sf: float) -> str:
        out = os.path.join(data, f"sf{sf}-{_src_hash(gen)}")
        if not os.path.isdir(out):
            subprocess.run([sys.executable, gen, out, str(sf)], check=True)
        return out

    base = tables(SF)
    if "dedup_graph" not in W.MIXES.get(workload, [workload]):
        return base, None
    stress = os.path.join(HERE, "stress_input.py")
    tool = os.path.join(sparkenv.ROOT, "tools", "scale_stress.py")
    stressed = os.path.join(data, f"sf{STRESS_SF}x{STRESS_FACTOR}-"
                            f"{_src_hash(gen, stress, tool)}")
    if not os.path.isdir(stressed):
        subprocess.run([sys.executable, stress, tables(STRESS_SF), stressed,
                        str(STRESS_FACTOR)], check=True,
                       stdout=subprocess.DEVNULL)
    return base, stressed


# ---------------------------------------------------------------- checks

def content_hash(pdf) -> str:
    from distributed_computing_projects_spark.verify import normalize

    return hashlib.sha256(
        normalize(pdf).to_csv(index=False).encode()).hexdigest()


class Checker:
    def __init__(self):
        with open(EXPECTED) as f:
            self.expected = json.load(f)

    @staticmethod
    def _path(op: W.Op) -> str:
        key = hashlib.sha256(
            f"{op.oracle_dir}\n{op.oracle}".encode()).hexdigest()[:16]
        return os.path.join(sparkenv.WORK, "oracle", f"{key}.pkl")

    def prepare(self, ops: list[W.Op]) -> None:
        """DuckDB's answers are computed once per checkout (the inputs
        are fixed) and cached, in a child process, so that DuckDB's
        memory never shows in the driver's peak RSS."""
        jobs = {self._path(op): (op.oracle_dir, op.oracle) for op in ops
                if op.oracle is not None and not os.path.exists(
                    self._path(op))}
        if not jobs:
            return
        os.makedirs(os.path.join(sparkenv.WORK, "oracle"), exist_ok=True)
        jobs_file = os.path.join(sparkenv.WORK, "oracle", "jobs.json")
        with open(jobs_file, "w") as f:
            json.dump(jobs, f)
        subprocess.run([sys.executable, os.path.join(HERE, "oracle_answers.py"),
                        jobs_file], check=True)

    def oracle(self, op: W.Op):
        return pd.read_pickle(self._path(op))

    def problems(self, op: W.Op, pdf) -> list[str]:
        from distributed_computing_projects_spark.verify import compare

        if op.oracle is not None:
            return compare(op.name, pdf, self.oracle(op))
        exp = self.expected.get(op.group, {}).get(op.name)
        if exp is None:
            return [f"no oracle and no expected.json entry for {op.key}"]
        got = {"rows": len(pdf), "hash": content_hash(pdf)}
        return [] if got == {k: exp[k] for k in got} else [
            f"expected {exp}, got {got}"]


# ---------------------------------------------------------------- memory

def reset_peak_rss() -> None:
    try:  # Linux: "5" resets the VmHWM high-water mark
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# ---------------------------------------------------------------- processes

def adopt_orphans() -> None:
    """Linux: a descendant whose parent ends (the pyspark daemon and its
    workers when the JVM stops) is re-parented to this process instead
    of init, so ``reap_children`` can end it and wait for it."""
    try:
        import ctypes

        ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(d))
    return kids


def reap_children(grace_s: float = 10.0) -> None:
    """Ends every remaining child, adopted ones included, and waits for
    each: SIGTERM, then SIGKILL after ``grace_s``. Repeats until none is
    left, since ending one can orphan its own children to us."""
    deadline = time.monotonic() + grace_s
    while kids := _children():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = min(deadline, time.monotonic() + 1.0)
        while kids and (sig == signal.SIGKILL or time.monotonic() < end):
            for pid in list(kids):
                try:
                    done, _ = os.waitpid(
                        pid, 0 if sig == signal.SIGKILL else os.WNOHANG)
                except ChildProcessError:
                    done = pid
                if done:
                    kids.remove(pid)
            if kids and sig != signal.SIGKILL:
                time.sleep(0.05)


# ---------------------------------------------------------------- passes

def pass_order(ops: list[W.Op], seed: int, pass_no: int) -> list[W.Op]:
    """Seeded permutation of the ops that keeps each group's phases in
    order (an op of a later phase reads what its group's earlier
    phases wrote): the slots the shuffle gives a group are refilled
    with that group's ops sorted by phase."""
    rng = random.Random(seed * 1_000_003 + pass_no)
    order = list(ops)
    rng.shuffle(order)
    by_group: dict[str, list[W.Op]] = {}
    for op in order:
        by_group.setdefault(op.group, []).append(op)
    queues = {g: iter(sorted(q, key=lambda op: op.phase))
              for g, q in by_group.items()}
    return [next(queues[op.group]) for op in order]


def run_op(spark, op: W.Op, group: str):
    """Runs ``op`` and collects its result to the driver, the same
    action in the warm-up and the timed passes, so that the warm-up
    also warms the timed path. Returns (build_s, action_s, window,
    pandas result or None)."""
    spark.sparkContext.setJobGroup(group, group)
    t0, w0 = time.perf_counter(), time.time()
    df = op.build()
    t1 = time.perf_counter()
    pdf = None if df is None else df.toPandas()
    t2, w2 = time.perf_counter(), time.time()
    return t1 - t0, t2 - t1, (w0, w2), pdf


# op_geomean_s floors each op median here: a metadata op's sub-ms time
# is timer and scheduler noise, and its log would swamp the mean
GEOMEAN_FLOOR_S = 0.01


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(max(x, GEOMEAN_FLOOR_S)) for x in xs)
                    / len(xs))


def _terminated(signum, frame):
    raise SystemExit(128 + signum)  # runs the cleanup in main's finally


def main(argv=None) -> int:
    adopt_orphans()
    signal.signal(signal.SIGTERM, _terminated)
    try:
        return _main(argv)
    finally:
        reap_children()


def _main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=W.WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args(argv)

    if args.workload == "all":
        return run_all(args)
    pkg = os.path.join(sparkenv.ROOT, "distributed_computing_projects_spark")
    if not os.path.isdir(pkg):
        print(f"engine package not found at {pkg}", file=sys.stderr)
        return 2
    sparkenv.prepare_env()
    for d in ("tmp", "spark-local", "warehouse", "eventlog", "run"):
        shutil.rmtree(os.path.join(sparkenv.WORK, d), ignore_errors=True)
    os.makedirs(sparkenv.TMP, exist_ok=True)
    base, stressed = ensure_inputs(args.workload)
    trace_dir = os.path.join(sparkenv.WORK, "eventlog") if args.trace else None

    from distributed_computing_projects_spark.queries import load_registry

    t_setup = time.perf_counter()
    spark = sparkenv.session(trace_dir)
    try:
        return _run(args, spark, load_registry(), base, stressed, t_setup,
                    trace_dir)
    finally:
        sparkenv.stop(spark)


def run_all(args) -> int:
    """Every benchmark workload in turn, one process each; prints each
    metric by name and unit, then all results as one JSON line."""
    out = {}
    for name in W.MIXES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            return proc.returncode
        out[name] = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"{name}: correct={out[name]['correct']} "
              f"attempted={out[name]['attempted']} "
              f"failed={out[name]['failed']}")
        for metric, m in out[name]["metrics"].items():
            print(f"  {metric:32s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps(out))
    return 0


def _run(args, spark, reg, base, stressed, t_setup, trace_dir) -> int:
    wl_name = args.workload
    work = os.path.join(sparkenv.WORK, "run")
    os.makedirs(work, exist_ok=True)
    wl = W.build(wl_name, spark, reg, base, work, stressed)
    t0 = time.perf_counter()
    wl.stage(spark)
    staging_s = time.perf_counter() - t0

    # warm-up pass at the workload's own input, `cores` ops at a time
    # within a phase, ending each op with the timed passes' action; the
    # results are checked after each phase, and the checks are not
    # set-up time
    checker = Checker()
    c0 = time.perf_counter()
    checker.prepare(wl.ops)
    check_s, failed, attempted = time.perf_counter() - c0, 0, 0
    results: dict[str, int] = {}
    mismatches: list[str] = []
    recorded: dict[str, dict] = {}
    wl.reset()
    order = pass_order(wl.ops, args.seed, -1)
    with ThreadPoolExecutor(sparkenv.cores()) as pool:
        for phase in sorted({op.phase for op in order}):
            ops = [op for op in order if op.phase == phase]
            futures = [pool.submit(run_op, spark, op,
                                   f"{wl_name}/warmup/{op.key}")
                       for op in ops]
            wait(futures)
            c0 = time.perf_counter()
            for op, fut in zip(ops, futures):
                attempted += 1
                try:
                    pdf = fut.result()[3]
                    if op.result is not None:
                        pdf = op.result()
                        if not isinstance(pdf, pd.DataFrame):
                            pdf = pdf.toPandas()
                    results[op.key] = len(pdf)
                    if args.record_expected and op.oracle is None:
                        recorded.setdefault(op.group, {})[op.name] = {
                            "rows": len(pdf), "hash": content_hash(pdf)}
                        continue
                    for p in checker.problems(op, pdf):
                        mismatches.append(f"{op.key}: {p}")
                except Exception:
                    failed += 1
                    mismatches.append(
                        f"{op.key}: {traceback.format_exc(limit=3)}")
            check_s += time.perf_counter() - c0
    canary(spark, base).count()  # its first run is JIT warm-up too
    setup_s = time.perf_counter() - t_setup - check_s

    if args.record_expected:
        with open(EXPECTED) as f:
            expected = json.load(f)
        expected.update(recorded)
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")

    lsh = {}
    if any(op.group == "dedup_graph" for op in wl.ops):
        lsh = {side: results.get("dedup_graph/dedup_minhash_lsh" + tag, -1)
               for side, tag in (("base", ""), ("stressed", W.STRESSED))}
        if not (0 <= lsh["base"] <= W.EDGE_SWITCH < lsh["stressed"]):
            mismatches.append(
                f"inputs left their side of MAX_DRIVER_EDGES: {lsh}")

    # timed passes
    broken = {m.split(":")[0] for m in mismatches}
    ops = [op for op in wl.ops if op.timed and op.key not in broken]
    samples: dict[str, list[float]] = {op.key: [] for op in ops}
    passes: list[float] = []
    canaries: list[float] = []
    spans: list[dict] = []
    written0 = wl.bytes_written
    reset_peak_rss()
    deadline = time.perf_counter() + args.seconds
    p = 0
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        wl.reset()
        pass_s = 0.0
        for op in pass_order(ops, args.seed, p):
            spark.catalog.clearCache()
            group = f"{wl_name}/p{p}/{op.key}"
            attempted += 1
            try:
                b, a, window, _ = run_op(spark, op, group)
            except Exception:
                failed += 1
                mismatches.append(
                    f"{op.key}: {traceback.format_exc(limit=3)}")
                continue
            samples[op.key].append(b + a)
            pass_s += b + a
            spans.append({"op": op.key, "layer": op.layer, "pass": p,
                          "group": group, "build_s": b, "action_s": a,
                          "window": window})
        passes.append(pass_s)
        spark.sparkContext.setJobGroup(f"{wl_name}/p{p}/canary", "canary")
        c0 = time.perf_counter()
        canary(spark, base).count()
        canaries.append(time.perf_counter() - c0)
        p += 1
    rss_mb = peak_rss_mb()
    wl.reset()

    correct = not mismatches
    for m in mismatches:
        print(f"CHECK FAILED {m}", file=sys.stderr)
    pass_med = statistics.median(passes)
    op_meds = [statistics.median(v) for v in samples.values() if v]
    summary = {
        "workload": wl_name, "seed": args.seed, "passes": len(passes),
        "pass_s": passes, "canary_s": canaries, "setup_s": setup_s,
        "staging_s": staging_s, "check_s": check_s,
        "op_median_s": {k: statistics.median(v)
                        for k, v in samples.items() if v},
    }
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (pass_med, "s"),
            "op_geomean_s": (geomean(op_meds), "s"),
            "driver_rss_mb": (rss_mb, "MB"),
        }
        with open(os.path.join(sparkenv.WORK, f"last-{wl_name}.json"),
                  "w") as f:
            json.dump(summary, f)
    else:
        spark.stop()  # flushes the event log
        metrics, problems = layer_metrics(wl, summary, spans, results, lsh,
                                          trace_dir,
                                          wl.bytes_written - written0)
        for m in problems:
            print(f"TRACE FAILED {m}", file=sys.stderr)
        correct = correct and not problems
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


# ---------------------------------------------------------------- trace

# the traced run fails when an op's job time plus driver-only time is
# further than this from its wall time
ACCOUNTING_TOLERANCE = 0.10


def layer_metrics(wl: W.Workload, summary: dict, spans: list[dict],
                  results: dict[str, int], lsh: dict, trace_dir: str,
                  written: int):
    """Returns (metrics, problems): the per-layer metrics per pass, and
    every way the event log failed to account for the ops."""
    from eventlog import EventLog

    logs = [os.path.join(trace_dir, f) for f in os.listdir(trace_dir)
            if not f.endswith(".inprogress")]
    log = EventLog(logs[0])
    problems = list(log.problems)
    n = summary["passes"]
    per_op: dict[str, dict] = {}
    tot: dict[str, float] = {}
    worst = {"accounted_frac_min": 1.0, "accounted_frac_max": 1.0,
             "outside_frac_max": 0.0, "tagged_share_min": 1.0}
    for s in spans:
        st = log.op_stats(s["group"], s["window"])
        st.update(build_s=s["build_s"], action_s=s["action_s"])
        agg = per_op.setdefault(s["op"], {"layer": s["layer"]})
        for k, v in st.items():
            agg[k] = agg.get(k, 0.0) + v / n
            tot[k] = tot.get(k, 0.0) + v / n
        for k, pick in (("accounted_frac", min), ("accounted_frac", max),
                        ("outside_frac", max), ("tagged_share", min)):
            name = f"{k}_{pick.__name__}"
            agg[name] = pick(agg.get(name, st[k]), st[k])
            worst[name] = pick(worst[name], st[k])
        if abs(st["accounted_frac"] - 1.0) > ACCOUNTING_TOLERANCE:
            problems.append(
                f"{s['group']}: job + driver-only time is "
                f"{st['accounted_frac']:.3f} of wall time")
        if st["foreign_jobs"]:
            problems.append(
                f"{s['group']}: {st['foreign_jobs']:.0f} job(s) without the "
                f"op's tag ran {st['foreign_s']:.3f} s in its window")
    for agg in per_op.values():
        for k in ("accounted_frac", "outside_frac", "tagged_share"):
            agg.pop(k, None)

    def layer_wall(layer: str) -> float:
        return sum(s["build_s"] + s["action_s"] for s in spans
                   if s["layer"] == layer) / n

    engine = [s for s in spans if not s["layer"].startswith("catalog")]
    catalog_bytes = written / n
    user_bytes = wl.user_bytes
    g = tot.get
    metrics = {
        "staging.busy_s": (summary["staging_s"], "s"),
        "staging.bytes": (wl.staging_bytes, "bytes"),
        "decode.python_run_s": (g("python_run_s", 0), "s"),
        "decode.python_boot_s": (g("python_boot_s", 0), "s"),
        "decode.bytes_to_python": (g("bytes_to_python", 0), "bytes"),
        "decode.bytes_from_python": (g("bytes_from_python", 0), "bytes"),
        "decode.input_bytes": (g("python_input_bytes", 0), "bytes"),
        "decode.records_out": (sum(results.get(op.key, 0) for op in wl.ops
                                   if op.layer == "decode"), "count"),
        "operators.build_s": (sum(s["build_s"] for s in engine) / n, "s"),
        "operators.action_s": (sum(s["action_s"] for s in engine) / n, "s"),
        "operators.jobs": (g("jobs", 0), "count"),
        "operators.stages": (g("stages", 0), "count"),
        "operators.tasks": (g("tasks", 0), "count"),
        "operators.executor_cpu_s": (g("cpu_s", 0), "s"),
        "operators.gc_s": (g("gc_s", 0), "s"),
        "operators.spill_bytes": (g("spill_bytes", 0), "bytes"),
        "operators.lsh_pairs.base": (lsh.get("base", 0), "count"),
        "operators.lsh_pairs.stressed": (lsh.get("stressed", 0), "count"),
        "shuffle.write_bytes": (g("shuffle_write_bytes", 0), "bytes"),
        "shuffle.read_bytes": (g("shuffle_read_bytes", 0), "bytes"),
        "shuffle.fetch_wait_s": (g("fetch_wait_s", 0), "s"),
        "shuffle.reduce_tasks": (g("reduce_tasks", 0), "count"),
        "driver.only_s": (g("driver_only_s", 0), "s"),
        "driver.jvm_heap_peak_mb": (log.heap_peak / 2**20, "MB"),
        "catalog.put_s": (layer_wall("catalog.put"), "s"),
        "catalog.get_s": (layer_wall("catalog.get"), "s"),
        "catalog.meta_s": (layer_wall("catalog.meta"), "s"),
        "catalog.bytes_written": (catalog_bytes, "bytes"),
        "catalog.bytes_per_user_byte": (
            catalog_bytes / user_bytes if user_bytes else 0.0, "ratio"),
        "verify.check_s": (summary["check_s"], "s"),
        "host.canary_s": (statistics.median(summary["canary_s"]), "s"),
    }
    untraced = None
    last = os.path.join(sparkenv.WORK, f"last-{wl.name}.json")
    if os.path.exists(last):
        with open(last) as f:
            untraced = statistics.median(json.load(f)["pass_s"])
    traced = statistics.median(summary["pass_s"])
    artifact = {
        **summary,
        "tracing_overhead": {
            "traced_pass_s": traced, "untraced_pass_s": untraced,
            "ratio": traced / untraced if untraced else None},
        "accounting": {**worst, "tolerance": ACCOUNTING_TOLERANCE,
                       "problems": problems},
        "per_op_per_pass": per_op,
        "layers": {k: {"value": v, "unit": u}
                   for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(sparkenv.WORK, f"trace-{wl.name}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    return metrics, problems


if __name__ == "__main__":
    raise SystemExit(main())
