"""Build file of the benchmark: compiles the program and the benchmark harness.

The program is compiled from the checkout's own sources (`src/main/scala`,
plus `src/main/resources` on the classpath) against the jar directory the
repository's `build.sbt` names as `unmanagedBase`; that directory also ships
the Scala compiler, so no build tool has to resolve anything. The harness in
`perfbench/harness` is then compiled against the program's classes. Outputs
go under `.bench_build/perfbench/classes` in the checkout and are reused
while the sources they were built from are unchanged.

    python3 perfbench/build.py      # build (or confirm) and print the classpath
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
OUT = ROOT / ".bench_build" / "perfbench" / "classes"


class BuildFailed(RuntimeError):
    pass


def spark_jars(root=ROOT):
    """The jar directory `build.sbt` compiles against (its `unmanagedBase`)."""
    build_sbt = root / "build.sbt"
    if not build_sbt.is_file():
        raise BuildFailed(f"no build.sbt in {root}: not a checkout of the program")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt.read_text())
    if m:
        jars = Path(m.group(1))
    elif os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        raise BuildFailed("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildFailed(f"no Spark/Scala jars in {jars}")
    return jars


def _sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _scalac(jars, classpath, out, sources, log):
    out.mkdir(parents=True, exist_ok=True)
    argfile = out.parent / (out.name + ".sources")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(out)]
    if classpath:
        cmd += ["-classpath", classpath]
    cmd.append(f"@{argfile}")
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildFailed(f"scalac failed for {out.name}; see {log.name}")


def ensure_built(root=ROOT):
    """Compile if needed; return the runtime classpath as a string."""
    main_src = root / "src" / "main" / "scala"
    program = _sources(main_src) if main_src.is_dir() else []
    if not program:
        raise BuildFailed(f"no program sources under {main_src}")
    harness = _sources(BENCH_DIR / "harness")
    jars = spark_jars(root)
    resources = root / "src" / "main" / "resources"
    stamp = OUT / "stamp"
    key = _digest(program + harness + [Path(__file__).resolve()])
    cp_parts = [str(OUT / "program"), str(resources), str(OUT / "harness"), f"{jars}/*"]
    classpath = os.pathsep.join(cp_parts)
    if stamp.is_file() and stamp.read_text() == key:
        return classpath
    if stamp.exists():
        stamp.unlink()
    OUT.mkdir(parents=True, exist_ok=True)
    for d in ("program", "harness"):
        shutil.rmtree(OUT / d, ignore_errors=True)
    with open(OUT / "build.log", "w") as log:
        _scalac(jars, None, OUT / "program", program, log)
        _scalac(jars, str(OUT / "program"), OUT / "harness", harness, log)
    stamp.write_text(key)
    return classpath


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildFailed as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
