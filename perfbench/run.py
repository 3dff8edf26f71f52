"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program (perfbench/build.py) if needed, generates the
workload's inputs from the seed, runs the workload in one JVM (Spark
`local[N]`, one closed-loop client), checks every output and prints one
JSON line: the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. Everything it writes stays under the build directory
(.bench_build); a run's scratch directory is removed when it ends.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # the package directory holds sources only

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

CORES = min(4, len(os.sched_getaffinity(0)))
SHUFFLE_PARTITIONS = 4
HEAP = "1536m"
# Scale factors (TPC-H style: orders has 1.5M * sf rows) of each workload's input.
# weekly_report needs sf0.03 for every allowlisted country to keep at least one
# week of user-activity rows on every seed.
SCALE = {"corpus_dedup": 0.01, "weekly_report": 0.03}
TABLES = {
    "corpus_dedup": ["documents", "embeddings"],
    "weekly_report": ["nation", "customer", "orders"],
}
HW_DATE_FROM, HW_PAST_WEEKS, HW_COMBOS = "2020-06-21", 2, 3000
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]
END_TO_END = {"setup_s": "s", "run_s": "s", "op_p50_s": "s", "op_tail_s": "s", "cpu_s": "s",
              "live_heap_mb": "MB"}


def per_layer_units():
    with open(HERE.parent / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run_jvm(cp, args, work, log):
    # no hsperfdata file in the system temp directory: a run writes only
    # inside its checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
           + ADD_OPENS
           + ["-cp", os.pathsep.join(cp), "graft.perfbench.BenchMain"] + args)
    with open(log, "w") as err:
        proc = subprocess.run(cmd, stdout=err, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
    if proc.returncode != 0:
        tail = Path(log).read_text()[-3000:]
        raise RuntimeError(f"benchmark JVM exited {proc.returncode}:\n{tail}")


def verify(workload, res, inp, work, hw_input):
    """Problems per operation name found in the warm-up's reference output.
    Operations whose warm-up threw have no reference output to check."""
    found = {e["op"]: [e["error"]] for e in res["warmup_errors"]}
    if workload == "weekly_report":
        out = f"{work}/out/warm"
        res_dir = HERE.parent / "src" / "main" / "resources" / "graft"
        with open(f"{work}/oracle_sql.json") as f:
            ua_oracle = json.load(f)["ua_full_pipeline"]
        weekly = {
            "hardware_report": lambda: checks.hardware(
                hw_input, f"{out}/hardware_report", res_dir / "device_map.json",
                HW_DATE_FROM, HW_PAST_WEEKS),
            "user_activity_rows": lambda: checks.user_activity(
                inp, f"{out}/user_activity_rows", ua_oracle),
            "annotations": lambda: checks.annotations(
                f"{work}/weekly-in/buildhub", f"{out}/annotations", "2020-06-29",
                res_dir / "static" / "annotations_hardware.json"),
        }
        for name, check in weekly.items():
            problems = [] if name in found else check()
            if problems:
                found[name] = problems
        return found
    with open(f"{work}/oracle_sql.json") as f:
        oracle = json.load(f)
    names = sorted({o["op"] for o in res["ops"]} - set(found))
    return dict(found, **checks.catalog(inp, f"{work}/ref", oracle, names))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp = build.classpath()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    t0 = time.time()  # set-up starts after the build
    traces = build.build_root() / "perfbench" / "traces"
    trace_name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    mismatch_dir = traces / f"{trace_name}-mismatch"
    shutil.rmtree(mismatch_dir, ignore_errors=True)
    run_dir = build.build_root() / "perfbench" / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work = run_dir / "input", run_dir / "work"
    for d in (inp, work / "tmp"):
        d.mkdir(parents=True)
    try:
        gen.catalog_tables(inp, a.seed, SCALE[a.workload], TABLES[a.workload])
        hw_input = inp / "hardware.parquet"
        if a.workload == "weekly_report":
            gen.hardware_input(hw_input, a.seed, HW_PAST_WEEKS + 1, HW_DATE_FROM, HW_COMBOS)
        out = run_dir / "result.json"
        run_jvm(cp, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--input", str(inp), "--work", str(work),
            "--cores", str(CORES), "--shuffle", str(SHUFFLE_PARTITIONS), "--out", str(out),
            "--hw-input", str(hw_input), "--hw-date-from", HW_DATE_FROM,
            "--hw-past-weeks", str(HW_PAST_WEEKS), "--mismatch-dir", str(mismatch_dir),
        ], work, run_dir / "jvm.log")
        t_jvm = time.time()
        with open(out) as f:
            res = json.load(f)
        setup_s = res["first_op_epoch_ms"] / 1000.0 - t0
        bad = verify(a.workload, res, inp, work, hw_input)
        print(f"perfbench: set-up {setup_s:.1f}s, JVM done at {t_jvm - t0:.1f}s, "
              f"checks {time.time() - t_jvm:.1f}s", file=sys.stderr)
        failed = sum(1 for o in res["ops"] if o["error"] or o["op"] in bad)
        for name, problems in sorted(bad.items()):
            print(f"WRONG {name}: {'; '.join(map(str, problems))[:500]}", file=sys.stderr)
        for o in res["ops"]:
            if o["error"]:
                print(f"FAILED {o['op']} pass {o['pass']}: {o['error'][:300]}", file=sys.stderr)
        if mismatch_dir.exists():
            print(f"differing artifacts kept in {mismatch_dir}", file=sys.stderr)

        traces.mkdir(parents=True, exist_ok=True)
        trace_file = traces / f"{trace_name}.json"
        res["setup_s"] = setup_s
        with open(trace_file, "w") as f:
            json.dump(res, f)

        if a.trace:
            units = per_layer_units()
            print(json.dumps({"layers": res["layers"], "trace_file": str(trace_file)}))
            metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in units.items()}
        else:
            values = dict(res["end_to_end"], setup_s=setup_s)
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({
            "correct": failed == 0 and not bad,
            "attempted": len(res["ops"]),
            "failed": failed,
            "metrics": metrics,
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
