"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke        # every workload, tiny sizes
    python3 perfbench/run.py --write-golden # regenerate perfbench/golden/hashes.json

The program is built from source first (perfbench/build.py). The harness
runs as `local[min(nproc, 4)]` in one JVM; everything it writes stays under
.bench_out/ in the checkout. The full run record (sitting conditions,
errors, sample counts, both metric groups) is appended to
.bench_out/runs.jsonl; a traced run also writes its spans next to it and,
when the untraced run of the same workload and seed is on record, the
tracing overhead of every end-to-end metric.
"""

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
OUT = ROOT / ".bench_out"
TIMEOUT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_jvm(classpath, args, work: Path, deadline: float):
    """Run the harness main; kill its process group if it overruns."""
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + flags + [
        "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
        "-cp", os.pathsep.join(str(p) for p in classpath),
        "graft.perfbench.Main"] + args)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "wb") as log:
        # SPARK_LOCAL_DIRS would override spark.local.dir: keep scratch in the checkout
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"harness overran its {TIMEOUT_S} s budget; see {work / 'jvm.log'}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def run_one(workload, seed, seconds, trace, smoke=False):
    classpath = build.build()
    deadline = time.monotonic() + TIMEOUT_S
    def tag(t):
        return f"{workload}-s{seed}-t{t}" + ("-smoke" if smoke else "")
    work = OUT / tag(trace)
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    record_path = work / "record.json"
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--root", str(ROOT), "--work", str(work),
            "--out", str(record_path)] + (["--smoke", "1"] if smoke else [])
    code = run_jvm(classpath, args, work, deadline)
    if not record_path.exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"harness failed with exit code {code}:\n{tail}")
    rec = json.loads(record_path.read_text())
    if code != 0:
        # The harness writes its record, every check done, before the
        # session stops. An abort after that is in the teardown, outside
        # what is measured or checked (seen: a native std::bad_alloc inside
        # SparkSession.stop on stream_p2_p6). The record keeps the code.
        rec["teardown_exit_code"] = code
        print(f"[run] harness exited with {code} after writing its record; "
              f"see {work / 'jvm.log'}", file=sys.stderr)
    if trace:
        base = OUT / tag(0) / "record.json"
        if base.exists():
            b = json.loads(base.read_text())["e2e"]
            rec["trace_overhead"] = {k: v - b[k] for k, v in rec["e2e"].items()
                                     if k in b and v is not None and b[k] is not None}
            record_path.write_text(json.dumps(rec) + "\n")
    with open(OUT / "runs.jsonl", "a") as f:
        f.write(json.dumps(rec) + "\n")
    # the scratch state of a run (spools, checkpoints, spark temp) is large;
    # keep only the record, the log and the trace
    for d in work.iterdir():
        if d.is_dir():
            shutil.rmtree(d, ignore_errors=True)
    return rec


def result_line(rec, trace):
    s = spec()
    group = s["per_layer"] if trace else s["end_to_end"]
    values = rec["layers"] if trace else rec["e2e"]
    missing = [m["name"] for m in group if values.get(m["name"]) is None]
    if missing and not trace:
        raise SystemExit(f"the run record lacks {missing}")
    # a layer the workload does not exercise (streaming on a batch
    # workload, kernels outside corpus_iterative) did no work: 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in group}
    return {"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
            "failed": int(rec["failed"]), "metrics": metrics}


def smoke():
    s = spec()
    problems = []
    for w in s["workloads"]:
        for trace in (0, 1):
            rec = run_one(w["name"], 1, 4, trace, smoke=True)
            line = result_line(rec, trace)
            defined = [m["name"] for m in s["per_layer" if trace else "end_to_end"]]
            for n in defined:
                v = line["metrics"].get(n, {}).get("value")
                if not isinstance(v, (int, float)) or not math.isfinite(v):
                    problems.append(f"{w['name']} trace={trace}: {n} = {v}")
            if not rec["correct"]:
                problems.append(f"{w['name']} trace={trace}: {rec['errors']}")
            print(f"[smoke] {w['name']} trace={trace}: {len(defined)} metrics, "
                  f"correct={rec['correct']} attempted={rec['attempted']}", file=sys.stderr)
    if problems:
        print("\n".join(problems), file=sys.stderr)
        raise SystemExit(1)
    print(json.dumps({"smoke": "ok"}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--write-golden", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        return smoke()
    if a.write_golden:
        work = OUT / "golden"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        code = run_jvm(build.build(), ["--golden", str(ROOT / "perfbench" / "golden" / "hashes.json"),
                                       "--root", str(ROOT)], work, time.monotonic() + 1800)
        raise SystemExit(code)
    names = [w["name"] for w in spec()["workloads"]]
    if a.workload not in names:
        raise SystemExit(f"unknown workload {a.workload!r}; one of {names}")
    rec = run_one(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps({k: rec[k] for k in ("errors", "info") if k in rec}), file=sys.stderr)
    print(json.dumps(result_line(rec, a.trace)))


if __name__ == "__main__":
    main()
