"""Benchmark entry point: builds the engine and the benchmark from this
checkout, prepares the inputs, runs one workload in a fresh JVM on
`local[4]` and prints its result as the last line of standard output.

    python3 perfbench/run.py --workload {backfill,weekly,analyst} \
        --seed N --seconds S --trace {0,1}

See perfbench/README.md for what each workload and metric means.
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
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD, "bench-classpath.txt")
ARCHIVE = os.path.join(BUILD, "classes.jsa")

# Per-workload input sizes, fixed so that every run measures the same work.
SIZES = {
    "backfill": {"draws": 60, "prizes": 1000},
    "weekly": {"draws": 30, "prizes": 1000},
    "analyst": {"draws": 30, "prizes": 1000},
}
CORPUS_SF = 0.01
CORPUS_SEED = 42
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every file the build reads, so a stale build is rebuilt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def jvm_command(classpath, archive, work):
    """The JVM command line every run uses, up to the main class."""
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xlog:disable",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [archive, "-cp", classpath, "perfbench.Main"]


def build():
    """Compile engine + benchmark with sbt once per source state; return the
    runtime classpath (jars)."""
    digest = source_digest()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            saved = fh.read().split("\n", 1)
        if saved[0] == digest and len(saved) == 2:
            return saved[1].strip()
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    dump_class_archive(classpath)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(digest + "\n" + classpath)
    return classpath


def dump_class_archive(classpath):
    """Record the classes a short training run loads into a class-data
    sharing archive, so that every run starts the JVM and the Spark session
    from it instead of loading several thousand classes from jars. Without
    an archive the runs still work, only their start is slower."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    train = os.path.join(BUILD, "cds-train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    cmd = jvm_command(classpath, f"-XX:ArchiveClassesAtExit={ARCHIVE}", train) + [
        "--workload", "weekly", "--seed", "1", "--seconds", "1", "--trace", "0",
        "--work", train, "--corpus", train, "--fingerprints", os.path.join(train, "none"),
        "--draws", "2", "--prizes", "40"]
    try:
        subprocess.run(cmd, cwd=train, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    shutil.rmtree(train, ignore_errors=True)
    if not os.path.exists(ARCHIVE):
        log("no class-data sharing archive; runs load classes from jars")


def corpus_dir(sf):
    """The operator corpus, generated once per checkout and generator
    version (it is fixed)."""
    with open(os.path.join(HERE, "gen_corpus.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    path = os.path.join(WORK, f"corpus-sf{sf}-seed{CORPUS_SEED}-{tag}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        sys.path.insert(0, HERE)
        import gen_corpus
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_corpus.generate(tmp, sf, CORPUS_SEED)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path


def parse_args(argv):
    ap = argparse.ArgumentParser(description="lottery-spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    # overrides for the benchmark's own tests and for recording
    ap.add_argument("--draws", type=int)
    ap.add_argument("--prizes", type=int)
    ap.add_argument("--corpus", help="operator corpus directory (default: generated)")
    ap.add_argument("--fingerprints", default=os.path.join(HERE, "fingerprints.json"))
    ap.add_argument("--record-fingerprints")
    return ap.parse_args(argv)


def main(argv):
    a = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no engine sources next to the benchmark (build.sbt, src/main/scala)")
        return 2
    classpath = build()
    size = dict(SIZES[a.workload])
    if a.draws:
        size["draws"] = a.draws
    if a.prizes:
        size["prizes"] = a.prizes
    corpus = a.corpus or (corpus_dir(CORPUS_SF) if a.workload == "analyst" else WORK)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    launched_ms = int(time.time() * 1000)
    archive = f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE) else "-Xshare:auto"
    cmd = jvm_command(classpath, archive, run_dir) + [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", run_dir, "--corpus", os.path.abspath(corpus),
            "--fingerprints", os.path.abspath(a.fingerprints),
            "--draws", str(size["draws"]), "--prizes", str(size["prizes"]),
            "--launched-ms", str(launched_ms)]
    if a.record_fingerprints:
        cmd += ["--record-fingerprints", os.path.abspath(a.record_fingerprints)]
    log_path = os.path.join(WORK, f"jvm-{a.workload}.log")
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=run_dir)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"workload timed out after {JVM_TIMEOUT_S} s; see {log_path}")
            return 3
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        log(f"workload failed with exit code {proc.returncode}")
        return 1
    result = json.loads(lines[-1])
    print(lines[-2])
    print(json.dumps(result, separators=(",", ":")))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
