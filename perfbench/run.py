#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload jobchain --seed 1 --seconds 25 --trace 0

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.sbt); later runs reuse the build while the
sources are unchanged. The JVM runs in .bench_work/, and the full record
of the run (protocol stamp, every op, the answer checks, and with
--trace 1 the spans) is written to .bench_out/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import lib  # noqa: E402

WORKLOADS = ["jobchain", "curation-stream"]
ANSWERS = {"jobchain": ["q102_canonical_by_rank"], "curation-stream": []}
# the JVM's limit; the answer check and the result follow within 180 s
TIME_LIMIT_S = 172


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.exists(lib.BENCH_SCALA):
        sys.exit("perfbench: run from the repository root (engine sources not found)")

    classpath = lib.build()
    t0 = time.monotonic()
    master, conf = lib.bench_conf(lib.cpus())
    print(f"perfbench: master {master}, conf {json.dumps(conf, sort_keys=True)}", file=sys.stderr)

    work = os.path.join(lib.ROOT, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_file = os.path.join(work, "record.json")
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in lib.ADD_OPENS] +
           [f"-Xmx{lib.HEAP}"] + lib.JIT + [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(lib.HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(classpath), "perfbench.Harness",
            f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
            f"trace={a.trace}", f"data={lib.DATA}", f"work={work}",
            f"out={record_file}", f"master={master}"] +
           [f"conf.{k}={v}" for k, v in sorted(conf.items())])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr)
    try:
        code = proc.wait(timeout=max(10, TIME_LIMIT_S - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: the run did not finish in time")
    if code != 0:
        sys.exit(f"perfbench: harness exited with {code}")
    with open(record_file) as fh:
        rec = json.load(fh)

    # answers dumped by the warm-up, against the golden digests
    with open(lib.GOLDEN) as fh:
        golden = json.load(fh)
    answers = {}
    for q in ANSWERS[a.workload]:
        try:
            answers[q] = lib.parquet_digest(os.path.join(work, "answers", q)) == golden[q]
        except Exception as e:  # noqa: BLE001 - a missing or unreadable answer is a wrong one
            print(f"perfbench: answer {q}: {e}", file=sys.stderr)
            answers[q] = False
    for q, ok in answers.items():
        if not ok:
            print(f"perfbench: wrong answer for {q}", file=sys.stderr)

    ops = rec["ops"]
    # a wrong answer or a failed artifact check counts as one failed op
    failed = (sum(1 for o in ops if not o["ok"]) + sum(1 for ok in answers.values() if not ok)
              + sum(1 for ok in rec["checks"].values() if not ok))
    correct = failed == 0
    e2e_units, layer_units = lib.declared()
    if a.trace:
        values = dict(rec["metrics"])
        values["Queries.compose_driver_s"] = lib.compose_driver_s(
            rec["spans"], rec["traced_spans"], rec["traced_units"])
        units = layer_units
    else:
        # the unit's wall in canaries: how many times the fixed-work
        # canary's wall, in this run's window, one unit of work takes
        values = {"setup_s": lib.median(rec["setup_s"]),
                  "wall_canaries": lib.median(rec["wall_s"]) / lib.median(rec["canary_s"])}
        units = e2e_units
    tail = lib.percentile(rec["op_s"], 0.9) if "op_s" in rec else None

    rec["stamp"].update(workload=a.workload, seed=a.seed, seconds=a.seconds,
                        trace=a.trace, data=os.path.relpath(lib.DATA, lib.ROOT),
                        code_sha256=lib.source_hash(), git_commit=git_commit())
    rec.update(answers=answers, op_p90_s=tail, result=values)
    outdir = os.path.join(lib.ROOT, ".bench_out")
    os.makedirs(outdir, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    with open(os.path.join(outdir, name), "w") as fh:
        json.dump(rec, fh)
    shutil.rmtree(work, ignore_errors=True)
    print(lib.result_line(correct, len(ops), failed, values, units))


def git_commit():
    if not os.path.isdir(os.path.join(lib.ROOT, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=lib.ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or None


if __name__ == "__main__":
    main()
