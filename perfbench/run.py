#!/usr/bin/env python3
"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
this benchmark's own code with sbt (perfbench/build.sbt, a source dependency
on the program's own build); later runs reuse the build while the sources
are unchanged. Everything the benchmark writes goes under `.bench_build/`.

Workloads (see perfbench/README.md): batch and serve_serial, the two in
BENCHMARK.json; build and dedup_chain, the two halves of batch; and
serve_concurrent.

Output: one `name value unit` line per metric the run measured, the
operations attempted and failed per class, the host load average at the
start and the end, and as the last line one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json, or with `--trace 1` its per-layer metrics). The same is
written to `.bench_build/results/<workload>-seed<n>-trace<t>.json`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import corpus  # noqa: E402
import mix  # noqa: E402

WORKLOADS = ("batch", "serve_serial", "build", "dedup_chain", "serve_concurrent")
# The serve workloads read one fixed corpus and index (`serve_inputs`);
# their seed picks the requests.
SERVE_CORPUS_SEED = 1
JVM_TIMEOUT_S = 160
HEAP = "3g"
# As the program's build.sbt gives its forked JVMs (Spark on JDK 17).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """A hash of every file the build reads."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "build.properties"))
    files += glob.glob(os.path.join(BENCH, "project", "build.properties"))
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        files += [p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(p)]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_build(stamp):
    """The runtime classpath, building first if the sources changed."""
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=800)
        log.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"build failed (log: {log_path})", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def serve_inputs(cp, stamp):
    """The fixed serve corpus and its index, made once per program source
    in a JVM of their own, untimed. They are kept under a directory named
    by the program's source stamp and the corpus generator, so runs of two
    versions of the program in one checkout never read each other's index.
    """
    h = hashlib.sha256(f"{stamp}\n{SERVE_CORPUS_SEED}\n".encode())
    with open(os.path.join(BENCH, "corpus.py"), "rb") as f:
        h.update(f.read())
    base = os.path.join(WORK, "serve", h.hexdigest()[:16])
    data, index = os.path.join(base, "data"), os.path.join(base, "index")
    if not os.path.isfile(os.path.join(data, "_COMPLETE")):
        tmp = f"{data}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        corpus.write(tmp, SERVE_CORPUS_SEED, "index")
        open(os.path.join(tmp, "_COMPLETE"), "w").close()
        shutil.rmtree(data, ignore_errors=True)
        os.replace(tmp, data)
    if not os.path.isfile(os.path.join(index, "_COMPLETE")):
        run_dir = os.path.join(WORK, "runs", f"serve_index-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        run_jvm(cp, ["--workload", "serve_index", "--seconds", "0", "--trace", "0",
                     "--work", run_dir, "--out", f"{run_dir}/result.json",
                     "--data", data, "--index", index], run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)
    return data, index


def write_requests(path, reqs):
    with open(path, "w") as f:
        for r in reqs:
            f.write(f"{r['cls']}\t{r['slot']}\t{r['expect']}\t{r['query']}\n")


def run_jvm(cp, argv, run_dir):
    # no hsperfdata file in the system temp dir; Java temp files in the run dir
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + argv
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/jvm.out", "w") as out, open(f"{run_dir}/jvm.err", "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=err,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(f"{run_dir}/jvm.err") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM ended with {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    load_start = os.getloadavg()[0]

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to perfbench/ (build.sbt, src/main/scala)", 2)
    stamp = source_stamp()
    cp = ensure_build(stamp)

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    argv = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", run_dir, "--out", f"{run_dir}/result.json"]
    terms = None
    if a.workload.startswith("serve"):
        data, index = serve_inputs(cp, stamp)
        reqs = mix.round_requests(a.seed)
        terms = {r["query"]: r["terms"] for r in reqs}
        write_requests(f"{run_dir}/requests.tsv", reqs)
        write_requests(f"{run_dir}/warmup.tsv", mix.warmup_requests())
        argv += ["--requests", f"{run_dir}/requests.tsv", "--warmup", f"{run_dir}/warmup.tsv",
                 "--index", index]
    else:
        data = os.path.join(run_dir, "data")
        corpus.write(data, a.seed, "dedup" if a.workload == "dedup_chain" else "index")
    if a.workload == "batch":
        dedup_data = os.path.join(run_dir, "dedup")
        corpus.write(dedup_data, a.seed, "dedup")
        argv += ["--dedup-data", dedup_data]
    argv += ["--data", data]

    try:
        run_jvm(cp, argv, run_dir)
        with open(f"{run_dir}/result.json") as f:
            res = json.load(f)
        problems, notes = checks.check(a.workload, res, data, terms)
        if a.workload == "batch":
            problems += checks.check("dedup_chain", res, dedup_data)[0]
    finally:
        load_end = os.getloadavg()[0]
    measured = {k: (v, u) for k, (v, u) in res["metrics"].items()}
    classes = res["classes"]
    attempted = sum(n for n, _ in classes.values())
    failed = sum(f for _, f in classes.values())

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in measured:
            metrics[m["name"]] = {"value": measured[m["name"]][0], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload does not run
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"end-to-end metric {m['name']} was not measured")

    for name, (v, u) in measured.items():
        print(f"{name} {v:.6g} {u}")
    for cls, (n, f) in classes.items():
        print(f"attempted.{cls} {n} count")
        print(f"failed.{cls} {f} count")
    print(f"load_avg_start {load_start:.2f} load")
    print(f"load_avg_end {load_end:.2f} load")
    for n in notes:
        print(f"NOTE: {n}")
    for p in problems:
        print(f"CHECK FAILED: {p}")
    summary = {"correct": not problems, "attempted": attempted, "failed": failed,
               "metrics": metrics}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({**summary, "workload": a.workload, "seed": a.seed,
                   "seconds": a.seconds, "measured": measured, "classes": classes,
                   "pages": res["checks"].get("pages"),
                   "problems": problems, "notes": notes, "load_avg_start": load_start,
                   "load_avg_end": load_end}, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
