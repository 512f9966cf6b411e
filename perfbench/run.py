#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and the benchmark harness with sbt (``perfbench/build.sbt``); later runs
reuse the build while the sources are unchanged. Each run gets its own
empty state directory (warehouse, checkpoints, Spark local dirs, index
store) that is removed when the run ends, makes its inputs from the seed,
runs one workload in one JVM with ``local[4]``, checks the outputs, and
prints every metric by name with its unit. The last line of stdout is the
result object ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 1`` the run records spans and reports the per-layer
metrics listed in ``perfbench/layers.json``; the spans and the full result
are kept under ``perfbench/results/``.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
STATE = os.path.join(HERE, ".state")
RESULTS = os.path.join(HERE, "results")

RUN_TIMEOUT_S = 170
WORKLOADS = ("aq_pipeline", "serving")
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p80_ms": "ms",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged;
    return the runtime classpath."""
    inputs = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    stamp = tree_digest(inputs)
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g",
            "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp


def corpus():
    """The query workloads' corpus: generated once per checkout by
    ``gen_corpus.py`` (the expected outputs are recorded for exactly this
    corpus), and kept under a key that changes with the generator."""
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    import gen_corpus
    key = tree_digest([os.path.join(HERE, "gen_corpus.py")])[:12]
    out = os.path.join(STATE, f"corpus-{key}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        gen_corpus.write(tmp)
        os.replace(tmp, out)
    return out


def commit():
    """Git HEAD when the checkout is a repository, plus a digest of the
    engine sources, which also tells uncommitted trees apart."""
    head = "no-git"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                  text=True, timeout=10, check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return f"{head} src-{tree_digest([ENGINE_SRC])[:12]}"


def java_cmd(cp, state, args):
    opens = ["java.base/" + p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cmd = ["java"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Xmx3g",
            f"-Djava.io.tmpdir={os.path.join(state, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main"] + args
    return cmd


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    cp = build()
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)["per_layer"]
    data = corpus() if a.workload != "aq_pipeline" else ""

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    state = os.path.join(STATE, f"run-{tag}")
    os.makedirs(os.path.join(state, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(state, "result.json")
    spans = os.path.join(RESULTS, f"{tag}.spans.json")
    env = dict(os.environ, SPARK_GRAFT_INDEX_STORE=os.path.join(state, "index_store"),
               SPARK_LOCAL_DIRS=os.path.join(state, "local"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--corpus", data, "--state", state,
            "--expect", os.path.join(HERE, "expected.tsv"), "--out", out,
            "--spans", spans, "--commit", commit()]
    logf = os.path.join(RESULTS, f"{tag}.log")
    try:
        with open(logf, "w") as lf:
            p = subprocess.Popen(java_cmd(cp, state, args), stdout=lf, stderr=subprocess.STDOUT,
                                 env=env)
            try:
                rc = p.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s; log {logf}")
        if rc != 0 or not os.path.isfile(out):
            with open(logf) as lf:
                sys.stderr.write(lf.read()[-4000:])
            raise SystemExit(f"perfbench: run failed (exit {rc}); log {logf}")
        with open(out) as f:
            res = json.load(f)
        shutil.copy(out, os.path.join(RESULTS, f"{tag}.result.json"))
    finally:
        shutil.rmtree(state, ignore_errors=True)

    if a.trace:
        units = {m["name"]: m["unit"] for m in layers}
        values = res["per_layer"]
    else:
        units = END_TO_END
        values = res["end_to_end"]
    metrics = {}
    for name, unit in units.items():
        v = values.get(name, 0)
        metrics[name] = {"value": v, "unit": unit}
    for k, v in res["stamp"].items():
        print(f"stamp {k} = {v}")
    for e in res["errors"]:
        print(f"error {e}")
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    correct = bool(res["correct"]) and res["attempted"] >= 1 and all(
        m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
