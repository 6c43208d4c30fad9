"""graft benchmark: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

A workload is a registry query suite fully materialized, followed by one
CDC lane driven through load, steady (open loop) and burst phases into a
mirror whose FINAL is checked row for row (see BENCHMARK.json):

  analytics_poll   analytics queries + the JDBC polling lane (Derby)
  pipeline_frames  LLM-data-pipeline queries + the pgoutput frame lane

The first run in a checkout compiles the engine together with the
benchmark JVM (perfbench/build.sbt) and generates the tables
(perfbench/gendata.py); both are cached under .bench_build/ and rebuilt
when the sources change.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}; --trace 0 gives the end-to-end metrics, --trace 1 the per-layer
ones. The line before it is the run record (box, load, seed, generator
lateness, tracing overhead). The exit code is non-zero when an output
digest or the mirror FINAL does not match.

Other modes, for maintaining the benchmark:
  --record    re-record perfbench/expected.json (two JVMs; a query whose
              digest differs between them is marked rows-only)
  --audit     write perfbench/results/count_vs_noop.jsonl
  --selftest  show that the digest gate and the FINAL gate fire
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
EXPECTED = os.path.join(HERE, "expected.json")
MAIN_SCALE = "0.01"   # the tables the suite measures (TPC-H-style sf 0.01)
WARM_SCALE = "0.001"  # the tables of the codegen warm pass
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt")])
    return files


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def tables(scale):
    """Generated tables at `scale`, made once per checkout."""
    out = os.path.join(BUILD, "data", f"sf{scale}")
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gendata.py"), out, scale],
                       check=True)
    return out


def jvm(cp, mode, work, timeout=JVM_TIMEOUT_S, **kv):
    """Run the benchmark JVM; returns (seconds to READY or None, result, rc)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed, pre-touched heap: VmHWM then moves with native memory and
    # heap configuration instead of with when G1 chose to grow the heap
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           f"-Dderby.stream.error.file={work}/derby.log"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", mode, f"work={work}"]
    cmd += [f"{k}={v}" for k, v in kv.items()]
    t0 = time.monotonic()
    ready, result = None, None
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            for line in p.stdout:
                if line.startswith("READY"):
                    ready = time.monotonic() - t0
                elif line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
                else:
                    sys.stderr.write(line)
                if time.monotonic() - t0 > timeout:
                    break
            p.wait(timeout=max(1, timeout - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode not in (0, None) and result is None:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
    return ready, result, p.returncode


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(args):
    bench = spec()
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload}; one of {names}")
    cp = build()
    data, warm = tables(MAIN_SCALE), tables(WARM_SCALE)
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    work = os.path.join(BUILD, "work", args.workload)
    ready, res, rc = jvm(cp, "run", work, workload=args.workload, seed=args.seed,
                         seconds=args.seconds, trace=args.trace, data=data,
                         warm=warm, expected=EXPECTED)
    if res is None or ready is None:
        fail(f"benchmark JVM ended without a result (exit {rc})")
    e2e = dict(res["e2e"], setup_s=ready)
    record = dict(res["record"], workload=args.workload, trace=args.trace,
                  seconds=args.seconds)
    latest = os.path.join(runs, f"{args.workload}-untraced-latest.json")
    if args.trace == 0:
        metrics_src = e2e
        with open(latest, "w") as fh:
            json.dump(e2e, fh)
    else:
        metrics_src = dict(res["per_layer"])
        # tracing overhead: this traced run against the latest untraced run
        base = None
        if os.path.exists(latest):
            with open(latest) as fh:
                base = json.load(fh)
        for m in ("suite_s", "visible_p50_ms"):
            over = (e2e[m] / base[m] - 1.0) * 100.0 if base and base.get(m) else 0.0
            metrics_src[f"trace.overhead_{m}_pct"] = over
            record[f"trace_overhead_{m}_pct"] = over
        record["traced_e2e"] = e2e
    wanted = bench["end_to_end"] if args.trace == 0 else bench["per_layer"]
    metrics = {}
    for m in wanted:
        v = metrics_src.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    with open(os.path.join(runs, stamp + ".json"), "w") as fh:
        json.dump(dict(res, record=record, e2e=e2e), fh)
    if args.trace == 1 and os.path.exists(os.path.join(work, "trace.jsonl")):
        shutil.copy(os.path.join(work, "trace.jsonl"), os.path.join(runs, stamp + ".trace.jsonl"))
    print(json.dumps({"run_record": record}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.stdout.flush()
    return 0 if res["correct"] else 1


def maintenance(args):
    cp = build()
    data, warm = tables(MAIN_SCALE), tables(WARM_SCALE)
    work = os.path.join(BUILD, "work", "maint")
    if args.selftest:
        _, _, rc = jvm(cp, "selftest", work, data=data, expected=EXPECTED)
        return rc
    if args.audit:
        out = os.path.join(HERE, "results", "count_vs_noop.jsonl")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        _, _, rc = jvm(cp, "audit", work, timeout=3600, data=data, warm=warm, out=out)
        return rc
    recs = []
    for i in range(2):
        path = os.path.join(BUILD, f"expected{i}.json")
        jvm(cp, "record", work, timeout=600, data=data, warm=warm, expected=path)
        with open(path) as fh:
            recs.append(json.load(fh)["queries"])
    a, b = recs
    rows_only = {n: "output differs between two runs of the same commit"
                 for n in a if a[n]["digest"] != b[n]["digest"]}
    bad = [n for n in a if a[n]["rows"] != b[n]["rows"] or a[n]["error"]]
    with open(EXPECTED, "w") as fh:
        json.dump({"queries": {n: {"rows": a[n]["rows"], "digest": a[n]["digest"]}
                               for n in sorted(a)},
                   "rows_only": rows_only}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"recorded {len(a)} queries, {len(rows_only)} rows-only, unstable/errors: {bad}")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=13)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--audit", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail("run from the repo root of a graft checkout (engine sources missing)")
    if args.record or args.audit or args.selftest:
        return maintenance(args)
    if not args.workload:
        fail("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
