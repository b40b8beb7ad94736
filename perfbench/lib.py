"""Shared pieces of the benchmark: build, engine conf, statistics, answer
hashing and the result line. run.py, golden.py and compare.py use them;
tests/test_lib.py tests them."""
import hashlib
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data")
GOLDEN = os.path.join(HERE, "golden", "answers.json")
BENCH_SCALA = os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")

# the JVM flags of the engine's own build.sbt `run` (Spark on JDK 17)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
# C1 only, with room for all of its code. The workloads plan and
# generate new code on every op, so under C2 two to three cores of
# compile threads run for the whole run and which methods they have
# finished sets how fast a run is: on a 4-core host eight runs of the
# same jobchain work spread 28 % between quartiles. Under C1 op walls are
# flat from the second op on.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m"]


def cpus():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness with sbt unless the sources are
    unchanged since the last build; returns the runtime class path."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    code = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == code:
                return read_classpath(cp_file)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(code)
    return read_classpath(cp_file)


def read_classpath(path):
    with open(path) as fh:
        return [line.strip() for line in fh if line.strip()]


# ------------------------------------------------------------ engine conf

def bench_conf(n_cpus):
    """The session conf of graft.Bench, read from its source so the two
    cannot drift: the master and every .config(key, value) between
    SparkSession.builder() and .getOrCreate(). `cpus` is n_cpus."""
    with open(BENCH_SCALA) as fh:
        src = fh.read()
    src = re.sub(r"//[^\n]*", "", src)
    start = src.index("SparkSession.builder()")
    block = src[start:src.index(".getOrCreate()", start)]

    def value(v):
        if v == "cpus":
            return str(n_cpus)
        if v.startswith('"'):
            return v[1:-1]
        raise ValueError(f"unsupported conf value {v} in Bench.scala")

    master = re.search(r'\.master\(s"local\[\$cpus\]"\)', block)
    if not master:
        raise ValueError("Bench.scala: no local[$cpus] master")
    conf = {k: value(v) for k, v in re.findall(
        r'\.config\(\s*"([^"]+)"\s*,\s*("[^"]*"|\w+)\s*\)', block)}
    if not conf:
        raise ValueError("Bench.scala: no .config entries")
    return f"local[{n_cpus}]", conf


# ------------------------------------------------------------- statistics

def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of nothing")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, p):
    """Nearest-rank p-quantile (0 < p < 1), or None unless at least 10
    samples lie beyond it: a tail read off fewer is not a measurement."""
    s = sorted(xs)
    if not s:
        return None
    rank = max(1, -(-int(round(p * len(s) * 1e9)) // int(1e9)))
    value = s[rank - 1]
    return value if sum(1 for x in s if x > value) >= 10 else None


def self_time(span, children):
    """A span's length minus the part of it its children cover. Spans are
    (start, end) pairs; overlapping children count once, and the part of
    a child outside the span does not count."""
    s0, s1 = span
    parts = sorted((max(a, s0), min(b, s1)) for a, b in children)
    covered, cur = 0, None
    for a, b in parts:
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur:
                covered += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur:
        covered += cur[1] - cur[0]
    return (s1 - s0) - covered


def compose_driver_s(spans, measured, units):
    """Driver time of composition per unit of work: the self time of every
    `compose` span under a root `op` span with id < `measured` (the spans
    of the measured units), its jobs being its children. `spans` rows are
    [id, parent, name, start_ns, end_ns]."""
    by_id = {s[0]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    total = 0
    for s in spans:
        parent = by_id.get(s[1])
        if (s[2] == "compose" and parent and parent[0] < measured and parent[1] < 0
                and parent[2].startswith("op ")):
            total += self_time((s[3], s[4]), [(c[3], c[4]) for c in kids.get(s[0], [])])
    return total / 1e9 / units


# ----------------------------------------------------------------- answers

def canonical_digest(df):
    """Row count, columns and a hash of the frame after the correctness
    gate's canonicalisation (dev/verify_sim.py)."""
    sys.path.insert(0, os.path.join(ROOT, "dev"))
    sys.dont_write_bytecode = True
    from verify_sim import canon
    c = canon(df)
    body = c.astype(str).to_csv(index=False).encode()
    return {"rows": len(c), "columns": list(c.columns),
            "sha256": hashlib.sha256(body).hexdigest()}


def parquet_digest(path):
    import duckdb
    return canonical_digest(duckdb.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df())


# ------------------------------------------------------------ result line

def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def result_line(correct, attempted, failed, values, units):
    """The result JSON; `values` must name exactly the metrics in `units`."""
    missing = sorted(set(units) - set(values))
    extra = sorted(set(values) - set(units))
    if missing or extra:
        raise ValueError(f"metrics not as declared: missing {missing}, undeclared {extra}")
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units}})
