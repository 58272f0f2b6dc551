"""Build file of the sink benchmark.

Compiles the program (`src/main/scala`), then the benchmark's own
sources (`sinkbench/src`) against it, with the Scala compiler that ships
in the Spark distribution and against the Spark jars. Output goes to
`.bench_build/sinkbench/{program,bench}-<source hash>/classes` at the
repository root and is reused while the sources are unchanged. Usage:
`python3 sinkbench/build.py` prints the resulting class path.
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
BUILD_DIR = ROOT / ".bench_build" / "sinkbench"


class BuildError(Exception):
    pass


def spark_jars(root=ROOT):
    """The Spark jar directory: `$SPARK_HOME/jars`, else the unmanaged jar
    directory the program's own build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("Spark jars not found: set SPARK_HOME")


def program_sources(root=ROOT):
    program = root / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"program sources not found under {program.relative_to(root)}")
    files = sorted(program.rglob("*.scala"))
    if not files:
        raise BuildError("no program sources to build")
    return files


def source_hash(files, root=ROOT):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def compile_once(name, files, classpath, root=ROOT):
    """Compiles `files` into `.bench_build/sinkbench/<name>-<hash>/classes`
    unless that output already exists; drops older outputs of `name`."""
    key = source_hash(files, root)
    out = BUILD_DIR / f"{name}-{key}"
    if (out / "ok").is_file():
        return out / "classes", key
    tmp = BUILD_DIR / f"{name}-{key}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", str(spark_jars(root) / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-classpath", os.pathsep.join(str(c) for c in classpath),
           "-d", str(tmp / "classes"), "@" + str(argfile)]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {name} failed:\n" + res.stdout[-4000:])
    (tmp / "ok").write_text(key + "\n")
    for stale in BUILD_DIR.glob(f"{name}-*"):
        if stale != tmp:
            shutil.rmtree(stale, ignore_errors=True)
    tmp.rename(out)
    return out / "classes", key


def build(root=ROOT):
    """Compiles the program, then the benchmark against it. Returns the
    class path entries and the program's source hash."""
    program, key = compile_once("program", program_sources(root), [], root)
    bench_files = sorted((HERE / "src").rglob("*.scala"))
    bench, _ = compile_once("bench", bench_files, [program], root)
    return [bench, program, spark_jars(root) / "*"], key


if __name__ == "__main__":
    try:
        classpath, _ = build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(os.pathsep.join(str(c) for c in classpath))
