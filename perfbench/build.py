"""Build file of the benchmark.

Compiles the program with the repository's own, unmodified sbt build, asks
sbt for the runtime classpath and the `javaOptions` the build ships, then
compiles the benchmark sources in `perfbench/src` against that classpath
with the Scala compiler from the same classpath. Outputs go under
`.bench_build/perfbench/` in the checkout. A digest of every input is kept
there, so a later call with unchanged sources does nothing.

Usage: python3 perfbench/build.py   (run.py calls it before every run)
"""
import glob
import hashlib
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
STAMP = os.path.join(OUT, "build.json")
SBT_TIMEOUT_S = 780


class BuildError(Exception):
    pass


def _inputs():
    pats = ["build.sbt", "project/*.sbt", "project/*.properties", "project/*.scala",
            "src/main/**/*", "perfbench/src/*.scala", "perfbench/build.py"]
    files = sorted({p for pat in pats for p in glob.glob(os.path.join(ROOT, pat), recursive=True)
                    if os.path.isfile(p)})
    return files


def _digest(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(os.environ.get("SPARK_DRIVER_MEM", "").encode())
    return h.hexdigest()


def build():
    """Build if needed; return {"classpath": [...], "java_options": [...]}."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise BuildError(f"no sbt project with src/main at {ROOT}")
    files = _inputs()
    digest = _digest(files)
    if os.path.isfile(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("digest") == digest:
            return stamp
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "show javaOptions", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True,
                           timeout=SBT_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        raise BuildError("sbt timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BuildError(f"sbt exited with {p.returncode}")
    lines = p.stdout.splitlines()
    # `show` lists one option per "[info] * " line; `export` prints the
    # classpath bare
    java_options = [l[len("[info] * "):] for l in lines if l.startswith("[info] * ")]
    exported = [l for l in lines if l and not l.startswith("[")]
    if not java_options or not exported:
        raise BuildError("sbt printed no javaOptions or classpath")
    classpath = exported[-1].split(os.pathsep)
    classes = os.path.join(OUT, "classes")
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    sources = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala")))
    cp = os.pathsep.join(classpath)
    c = subprocess.run(["java", "-Xmx1g", "-cp", cp, "scala.tools.nsc.Main", "-usejavacp",
                        "-deprecation", "-d", classes, "-classpath", cp] + sources,
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    if c.returncode != 0:
        sys.stderr.write(c.stdout[-6000:] + c.stderr[-6000:])
        raise BuildError("benchmark sources failed to compile")
    stamp = {"digest": digest, "classpath": [classes] + classpath, "java_options": java_options}
    with open(STAMP, "w") as f:
        json.dump(stamp, f, indent=1)
    return stamp


if __name__ == "__main__":
    try:
        print(json.dumps(build()["java_options"]))
    except BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(2)
