#!/usr/bin/env python3
"""The graft benchmark: one workload per call, one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the harness on first use (sbt, against the root project's classes),
generates the workload's inputs from --seed, runs the JVM harness
(perfbench.Harness), checks outputs (the catalog's DuckDB oracle, or the
harness's own checks), and prints as its LAST stdout line
    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A summary line before it carries every number by name and
unit, the failing ops by name, and the host load around every pass.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.time()
sys.dont_write_bytecode = True  # importing tools/check.py must leave no cache behind
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, os.path.join(ROOT, "tools"))
sys.path.insert(0, BENCH)

# Fixture per workload: the generator's scale factor, and for corpus_scale
# the salted copy factor applied by tools/make_scale.py.
WORKLOADS = {
    "catalog_sf01": {"sf": 0.001},
    "corpus_scale": {"sf": 0.001, "scale": 4},
    "collection_read": {"sf": 0.005},
    "collection_write": {"sf": 0.005},
}
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "cpu_s": "s", "op_p50_ms": "ms",
    "op_tail_ms": "ms", "heap_peak_mb": "MB", "stored_bytes_per_doc_byte": "ratio",
}
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of everything the harness build reads, so a changed source
    rebuilds and an unchanged one does not."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "jvm.options")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile harness + root project; return the harness classpath."""
    stamp = os.path.join(BUILD, "stamp.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the harness (sbt compile)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    plain = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not plain:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: harness build failed")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": plain[-1]}, f)
    return plain[-1]


def heap_size():
    """Half of MemTotal, clamped to 2..8 GB (the Tier-1 command's sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def make_fixture(workload, seed, work, sf=None):
    import gen
    spec = WORKLOADS[workload]
    base = os.path.join(work, "base")
    gen.generate(base, sf or spec["sf"], seed)
    if "scale" not in spec:
        return base
    out = os.path.join(work, "fixture")
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "make_scale.py"),
                    base, out, str(spec["scale"])], check=True,
                   stdout=subprocess.DEVNULL, timeout=120)
    return out


def oracle_failures(fixture, results, oracle):
    """Compare each written result with its DuckDB oracle SQL over the same
    fixture: columns sorted by name, rows sorted, values compared as
    tools/check.py does."""
    import duckdb
    from check import canon
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(fixture, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            sp = con.execute(f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')")
            sp_rows, sp_cols = sp.fetchall(), [d[0] for d in sp.description]
            du = con.execute(sql)
            du_rows, du_cols = du.fetchall(), [d[0] for d in du.description]
        except Exception as e:  # a missing output or a broken oracle both fail the op
            bad[name] = f"oracle compare error: {str(e)[:200]}"
            continue
        if sorted(sp_cols) != sorted(du_cols):
            bad[name] = f"columns differ: {sorted(sp_cols)} vs {sorted(du_cols)}"
            continue
        a, b = canon(sp_rows, sp_cols), canon(du_rows, du_cols)
        if a != b:
            i = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
            bad[name] = f"differs from oracle at sorted row {i} ({len(a)} vs {len(b)} rows)"
    return bad


def tail(values):
    """Latency at the highest percentile with at least ten samples above
    it: (value, percentile, sample count)."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def e2e_metrics(res):
    passes = res["passes"]
    setup = res["setup"]
    prep = setup["prep_s"]
    lat = [o["ms"] for p in passes for o in p["ops"] if o["ok"]] or [0.0]
    heaps = [p["heap_peak_mb"] for p in passes if p["heap_peak_mb"] > 0] or [0.0]
    tail_ms, tail_pct, n = tail(lat)
    m = {
        # wall from process start to the first timed op, with the repeated
        # prep counted once at its median
        "setup_s": (setup["first_op_ms"] - setup["t0_ms"]) / 1000.0
                   - sum(prep) + statistics.median(prep),
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "op_p50_ms": statistics.median(lat),
        "op_tail_ms": tail_ms,
        "heap_peak_mb": statistics.median(heaps),
        "stored_bytes_per_doc_byte": res["stored_bytes_per_doc_byte"],
    }
    extra = {"op_tail_percentile": tail_pct, "op_samples": n, "passes": len(passes)}
    return m, extra


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, help="override the workload's fixture scale")
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft", "tools/make_scale.py", "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found: run from a full checkout of the repository")
            return 2
    tb = time.time()
    classpath = build()
    t0 = T0 + (time.time() - tb)  # set-up is timed from process start, build excluded

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    spans = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
    try:
        fixture = make_fixture(args.workload, args.seed, work, args.sf)
        cores = len(os.sched_getaffinity(0))
        result_file = os.path.join(work, "result.json")
        with open(os.path.join(BENCH, "jvm.options")) as f:
            jvm_opts = f.read().split()
        heap = heap_size()
        cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
               + jvm_opts
               + ["-cp", classpath, "perfbench.Harness",
                  "--workload", args.workload, "--fixture", fixture, "--work", work,
                  "--seed", str(args.seed), "--seconds", str(args.seconds),
                  "--trace", str(args.trace), "--cores", str(cores),
                  "--t0-ms", str(int(t0 * 1000)), "--out", result_file,
                  "--spans", spans])
        p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=JVM_TIMEOUT_S)
        for l in p.stderr.splitlines():
            if l.startswith("[perfbench]"):
                print(l, file=sys.stderr)
        if p.returncode != 0 or not os.path.exists(result_file):
            sys.stderr.write(p.stderr[-4000:])
            log(f"harness exited with code {p.returncode}")
            return 1
        with open(result_file) as f:
            res = json.load(f)
        failures = dict(res["failures"])
        failed = res["failed"]
        if res["oracle"]:
            bad = oracle_failures(fixture, os.path.join(work, "results"), res["oracle"])
            failures.update(bad)
            failed += len(bad)
        attempted = res["attempted"]

        e2e, extra = e2e_metrics(res)
        summary = {
            "workload": args.workload, "seed": args.seed, "env": res["env"],
            "e2e": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
            "ops_failed_ratio": failed / attempted, "failed_ops": failures,
            "unchecked_ops": sorted(
                {o["name"] for o in res["passes"][0]["ops"]} - set(res["oracle"]))
            if res["oracle"] else [],
            "load": [(p_["load_before"], p_["load_after"]) for p_ in res["passes"]],
            "pass_walls_s": [p_["wall_s"] for p_ in res["passes"]],
            "pass_cpus_s": [p_["cpu_s"] for p_ in res["passes"]],
            **extra,
        }
        if args.trace:
            tr = res["traced"]
            layers = dict(tr["layers"])
            traced_pass = statistics.median(p_["wall_s"] for p_ in tr["passes"])
            layers["trace.overhead_ratio"] = traced_pass / e2e["pass_s"]
            summary["layers"] = layers
            summary["spans_file"] = os.path.relpath(tr["spans_file"], ROOT)
            import layers as layer_units
            metrics = {k: {"value": v, "unit": layer_units.unit(k)} for k, v in layers.items()}
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        print("[perfbench] summary " + json.dumps(summary, sort_keys=True))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    except subprocess.TimeoutExpired:
        log("timed out")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
