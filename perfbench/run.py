"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke          # every workload once, short window
    python3 perfbench/run.py --record         # rewrite perfbench/reference.tsv

Run from the repository root. Builds the engine and the harness from
source (perfbench/build.py), writes the seeded input tables
(perfbench/gen_tables.py), then runs one benchmark JVM on local[N] with
N = the processors this process may use. Everything it writes stays
under .bench_build/ in the working directory. The last line of stdout is
the result object; a line starting with HOST before it records the host,
versions, seed and load.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

# Input scale per workload (gen_tables.py; sf=0.001 gives 6,000 lineitem
# rows). At sf=0.001 a CLI call spends 35% of its wall time with no Spark
# job running; at sf=0.03 that share is 13%, and larger libraries do not
# fit the run time.
SF = {"fithic_cli": 0.03, "query_suite": 0.001}
# A fixed, pre-touched heap. With a heap that grew into fresh pages while
# it ran, whole runs came out 20-30% slower or faster at random on a
# 4-vCPU VM (IQR/median of query_suite's op_mean_s over 10 seeds: 0.21
# without, 0.06 with).
JVM_HEAP = "2g"
DEADLINE_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(workload, seed, seconds, trace, record=None,
             deadline_s=DEADLINE_S):
    """Runs one benchmark JVM; returns (host line, result dict)."""
    t_start = time.monotonic()
    classes = build.build(".")
    cores = len(os.sched_getaffinity(0))
    work = os.path.abspath(os.path.join(
        build.BUILD, "work", f"{workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    tables = os.path.join(work, "tables")
    os.makedirs(os.path.join(work, "tmp"))
    subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"),
                    tables, str(SF[workload]), str(seed)], check=True)
    cp = classes + os.pathsep + os.path.join(build.SPARK_JARS, "*")
    opens = [x for p in ADD_OPENS for x in
             ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"] + opens
           + ["-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--tables", tables, "--work", work, "--cores", str(cores),
              "--reference", os.path.join(HERE, "reference.tsv")])
    if record:
        cmd += ["--record", record]
    env = dict(os.environ, SPARK_GRAFT_NO_SHM="1",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    left = deadline_s - (time.monotonic() - t_start)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, left))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: {workload} did not finish in time")
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            keep = os.path.join(build.BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.move(spans, os.path.join(keep, f"{workload}-seed{seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: benchmark JVM exited {proc.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    host = next((l for l in reversed(lines) if l.startswith("HOST ")), "")
    result = json.loads(lines[-1])
    return host, result


def check_names(result, names, label):
    missing = [n for n in names if n not in result["metrics"]]
    extra = [n for n in result["metrics"] if n not in names]
    if missing or extra:
        raise SystemExit(f"perfbench: {label}: missing {missing}, "
                         f"unexpected {extra}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    s = spec()
    e2e = [m["name"] for m in s["end_to_end"]]
    layer = [m["name"] for m in s["per_layer"]]
    workloads = [w["name"] for w in s["workloads"]]
    if a.smoke:
        for w in workloads:
            for trace in (0, 1):
                _, r = run_once(w, a.seed, 1, trace)
                check_names(r, layer if trace else e2e, f"{w} trace={trace}")
                if not r["correct"]:
                    raise SystemExit(f"perfbench: {w} trace={trace}: "
                                     "outputs or job counts wrong")
                print(f"smoke {w} trace={trace}: correct={r['correct']} "
                      f"attempted={r['attempted']} failed={r['failed']}")
        return
    if a.record:
        parts = []
        for w in ("query_suite", "fithic_cli"):
            out = os.path.abspath(os.path.join(build.BUILD, f"record-{w}.tsv"))
            run_once(w, a.seed, 1, False, record=out,
                     deadline_s=900)
            with open(out) as fh:
                parts.append(fh.read())
        with open(os.path.join(HERE, "reference.tsv"), "w") as fh:
            fh.write("# expected outputs at sf=%g (query_suite) and sf=%g "
                     "(fithic_cli); written by run.py --record\n"
                     % (SF["query_suite"], SF["fithic_cli"]))
            fh.write("".join(parts))
        return
    if a.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    host, r = run_once(a.workload, a.seed, a.seconds or s["run_seconds"],
                       a.trace == 1)
    check_names(r, layer if a.trace else e2e, a.workload)
    if host:
        print(host)
    print(json.dumps(r))


if __name__ == "__main__":
    main()
