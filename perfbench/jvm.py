"""Builds the program and the benchmark's JVM side from source with the Scala
compiler that ships in Spark's jar directory, and runs a main class."""
import hashlib
import os
import shutil
import signal
import subprocess
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
HEAP = "6g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(Path(submit).resolve().parent.parent / "jars")
    for c in cands:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    raise BenchError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BenchError("no java on PATH")
    return found


def _sources(root):
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def build():
    """Compile src/main/scala, then perfbench/scala against it. The output
    is reused while every source file is unchanged."""
    app, bench = _sources(ROOT / "src" / "main" / "scala"), _sources(BENCH / "scala")
    if not app or not bench:
        raise BenchError("program sources not found under src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256(str(jars).encode())
    for p in app + bench:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    dest = BUILD / h.hexdigest()[:16]
    if (dest / "ok").exists():
        return dest
    shutil.rmtree(BUILD, ignore_errors=True)
    for name, srcs, cp in (("app", app, f"{jars}/*"), ("bench", bench, f"{jars}/*:{dest}/app")):
        (dest / name).mkdir(parents=True)
        cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
               "-nowarn", "-d", str(dest / name), "-classpath", cp] + [str(p) for p in srcs]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BenchError(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    (dest / "ok").touch()
    return dest


def run_main(dest, main, args, cwd, log_path, timeout_s):
    """Run a main class in its own process group; on timeout kill the group
    and wait for it. Returns the exit code (None on timeout)."""
    tmp = Path(cwd) / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java(), "-XX:-UsePerfData", f"-Xmx{HEAP}", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={cwd}",
           "-cp", f"{dest}/app:{dest}/bench:{spark_jars()}/*", main, *map(str, args)]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
