"""Build file of the layerbench package.

Compiles the program's sources (`src/main/scala`, plus its resources)
together with the benchmark's own sources (`layerbench/src`) into
`.bench_build/classes`, with the Scala compiler that ships in Spark's jar
dir: `$SPARK_HOME/jars`, or else the `unmanagedBase` dir `build.sbt`
compiles against. The build is skipped when a stamp of every input
matches the last successful build.

With GRAFT_CLASSES set to a compiled program classes dir (as
`scripts/run_main.sh` takes it), only the benchmark's sources are
compiled, against that dir, and the program is run from it.

    python3 layerbench/build.py        # build, print the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"


def spark_jars() -> Path:
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
        if not m:
            raise SystemExit("layerbench: set SPARK_HOME; build.sbt names no unmanagedBase jar dir")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"layerbench: no Spark jars with a Scala compiler in {jars} (set SPARK_HOME)")
    return jars


def files_under(base: Path, pattern: str = "*") -> list:
    return sorted(p for p in base.rglob(pattern) if p.is_file()) if base.is_dir() else []


def stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256(str(sorted(j.name for j in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_to(out: Path, sources: list, classpath: str, resources: list, res_base: Path):
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
           "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-cp", classpath, f"@{argfile}"]
    print(f"layerbench: compiling {len(sources)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"layerbench: compilation failed (exit {r.returncode})")
    for f in resources:
        dest = tmp / f.relative_to(res_base)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dest)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build() -> tuple:
    """Return the run classpath and a stamp of everything on it, compiling
    first if any input changed."""
    jars = spark_jars()
    bench = files_under(HERE / "src", "*.scala")
    if not bench:
        raise SystemExit(f"layerbench: benchmark sources not found under {HERE / 'src'}")
    given = os.environ.get("GRAFT_CLASSES")
    if given:
        program = Path(given).resolve()
        if not (program / "graft").is_dir():
            raise SystemExit(f"layerbench: GRAFT_CLASSES={given!r} holds no compiled graft classes")
        key = stamp(files_under(program) + bench, jars)
        out = BUILD / f"bench-{key[:16]}"
        if not out.is_dir():
            compile_to(out, bench, f"{program}:{jars}/*", [], HERE)
        return f"{out}:{program}:{jars}/*", key
    res_base = ROOT / "src" / "main" / "resources"
    program = files_under(ROOT / "src" / "main" / "scala", "*.scala")
    if not program:
        raise SystemExit(f"layerbench: program sources not found under {ROOT / 'src' / 'main' / 'scala'}")
    res = files_under(res_base)
    key = stamp(program + bench + res, jars)
    out = BUILD / "classes"
    mark = BUILD / "classes.stamp"
    if not (out.is_dir() and mark.is_file() and mark.read_text() == key):
        compile_to(out, program + bench, f"{jars}/*", res, res_base)
        mark.write_text(key)
    return f"{out}:{jars}/*", key


if __name__ == "__main__":
    print(build()[0])
