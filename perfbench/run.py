#!/usr/bin/env python3
"""The repository benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload tsdb_mixed --seed 1 --trace 0
    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 20 --trace 1
    python3 perfbench/run.py --smoke

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run starts one JVM
with Spark local[nproc] and one client thread.

Output: every metric as a line `metric <workload> <name> <value> <unit>`,
the full result (metrics, inputs fingerprint, environment, spans) as one
JSON file under .bench_build/results/, and, as the last stdout line, a
JSON summary with the metrics BENCHMARK.json lists for the mode:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import pathlib
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
ARCHIVE = BUILD / "classes.jsa"
WORKLOADS = ["tsdb_mixed", "sql_analytics", "llm_pipeline"]
LLM_STAGES = ["text_normalize", "text_quality", "dedup_exact", "dedup_minhash",
              "dedup_ngram", "dedup_semantic", "sim_ann_ivf", "text_bpe_encode"]
# Metrics a workload reports besides the ones BENCHMARK.json lists.
OWN_METRICS = {
    "tsdb_mixed": ["failed_frac", "read_p50_ms", "read_p90_ms", "write_p50_ms", "write_p90_ms",
                   "stored_bytes_per_row"],
    "sql_analytics": ["failed_frac", "read_p50_ms", "read_p90_ms", "write_p50_ms", "write_p90_ms",
                      "stored_bytes_per_row"],
    "llm_pipeline": ["failed_frac", "docs_per_s", "llm.planted_dup_recall"]
                    + [f"op.{s}.{p}_ms" for s in LLM_STAGES for p in ("build", "exec")],
}
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these (as in the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Everything the build reads from the checkout."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_child(cmd, cwd, env, timeout, log=None):
    """Runs cmd in its own process group and always reaps the group."""
    out = open(log, "w") if log else None
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out or None,
                            stderr=subprocess.STDOUT if out else None, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        if out:
            out.close()


def build():
    """Compiles engine + benchmark with sbt unless the sources are unchanged."""
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    want = digest()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    ARCHIVE.unlink(missing_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        if repos.exists():
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false").strip()
    log = BUILD / "build.log"
    print("perfbench: building engine and benchmark (sbt, offline)", file=sys.stderr)
    try:
        code = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         HERE, env, BUILD_TIMEOUT_S, log)
    except subprocess.TimeoutExpired:
        fail(f"build timed out; see {log}")
    if code != 0 or not cp_file.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {code}); see {log}")
    stamp.write_text(want)
    return cp_file.read_text().strip()


def git_commit():
    try:
        top = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        lines = top.stdout.split()
        if top.returncode == 0 and pathlib.Path(lines[0]).resolve() == ROOT:
            return lines[1]
    except (OSError, subprocess.TimeoutExpired, IndexError):
        pass
    return None


def run_jvm(cp, workloads, seed, seconds, trace, scale, out, fingerprints=False):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # A fixed heap keeps peak RSS from following G1's resizing choices.
    # The class-data-sharing archive, written by the first run after a
    # build, saves later runs most of the JVM's class loading.
    archive = ARCHIVE.exists()
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           f"-XX:SharedArchiveFile={ARCHIVE}" if archive else f"-XX:ArchiveClassesAtExit={ARCHIVE}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", ",".join(workloads),
            "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--scale", scale, "--work", str(BUILD), "--out", str(out),
            "--fingerprints", "1" if fingerprints else "0"]
    if out.exists():
        out.unlink()
    try:
        code = run_child(cmd, ROOT, dict(os.environ), JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if code != 0 or not out.exists():
        fail(f"benchmark JVM failed (exit {code})")
    doc = json.loads(out.read_text())
    doc["env"]["git_commit"] = git_commit()
    doc["env"]["source_digest"] = digest()
    out.write_text(json.dumps(doc))
    return doc


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def print_result(doc, out):
    env = doc["env"]
    print(f"perfbench: seed {doc['seed']}, {doc['seconds']} s per loop, nproc {env['nproc']}, "
          f"heap {env['driver_heap_mb']} MB, JDK {env['jdk']}, Spark {env['spark']}, "
          f"commit {env['git_commit'] or 'unknown'}")
    print(f"perfbench: flush policy: {env['flush_policy']}")
    for name, w in doc["workloads"].items():
        print(f"perfbench: {name} inputs: " + ", ".join(f"{k}={v}" for k, v in w["inputs"].items()))
        for section in ("end_to_end", "per_layer"):
            for metric, m in w[section].items():
                print(f"metric {name} {metric} {m['value']:.6g} {m['unit']}")
        if w["self_ms_by_layer"]:
            total = sum(w["self_ms_by_layer"].values())
            print(f"perfbench: {name} self time by layer (traced loop):")
            for layer, ms in sorted(w["self_ms_by_layer"].items(), key=lambda kv: -kv[1]):
                print(f"  {layer:<10} {ms:10.1f} ms  {100 * ms / total:5.1f} %")
    print(f"perfbench: full result in {out.relative_to(ROOT)}")


def smoke(cp):
    """All three workloads at tiny scale, traced, in one JVM: every metric
    BENCHMARK.json names, and every one of the workload's own, must be
    emitted with its unit, no op may fail, and the inputs must be a
    function of the seed."""
    out = BUILD / "results" / "smoke.json"
    doc = run_jvm(cp, WORKLOADS, 1, 2, True, "tiny", out, fingerprints=True)
    print_result(doc, out)
    s, problems = spec(), []
    for name, w in doc["workloads"].items():
        for section, key in (("end_to_end", "end_to_end"), ("per_layer", "per_layer")):
            for m in s[key]:
                got = w[section].get(m["name"])
                if got is None:
                    problems.append(f"{name}: {m['name']} not emitted")
                elif got["unit"] != m["unit"]:
                    problems.append(f"{name}: {m['name']} unit {got['unit']} != {m['unit']}")
        for metric in OWN_METRICS[name]:
            if metric not in w["end_to_end"] and metric not in w["per_layer"]:
                problems.append(f"{name}: {metric} not emitted")
        if w["end_to_end"]["failed_frac"]["value"] != 0 or not w["correct"]:
            problems.append(f"{name}: failed_frac {w['end_to_end']['failed_frac']['value']}, "
                            f"checks {w['final_check_failures']}")
    for name, (a, b, c) in doc["fingerprints"].items():
        if a != b:
            problems.append(f"{name}: the same seed generated different inputs")
        if a == c:
            problems.append(f"{name}: a different seed generated the same inputs")
    for p in problems:
        print(f"smoke: FAIL {p}", file=sys.stderr)
    print("smoke: " + ("FAIL" if problems else "ok"))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny-scale self-test of the benchmark")
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        fail("run from a checkout of the repository: the engine sources are missing", 2)
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("BENCHMARK.json is missing", 2)
    if not a.smoke and a.workload is None:
        fail("--workload is required", 2)
    cp = build()
    if a.smoke:
        sys.exit(smoke(cp))
    s = spec()
    seconds = a.seconds if a.seconds is not None else s["run_seconds"]
    out = BUILD / "results" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    doc = run_jvm(cp, [a.workload], a.seed, seconds, a.trace == 1, "full", out)
    print_result(doc, out)
    w = doc["workloads"][a.workload]
    section = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in s[section]:
        got = w[section].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            fail(f"metric {m['name']} missing or with another unit than BENCHMARK.json says")
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    correct = bool(w["correct"]) and w["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": w["attempted"], "failed": w["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
