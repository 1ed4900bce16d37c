"""Build and launch helpers shared by run.py and derive.py.

The harness JVM is compiled by sbt from perfbench/build.sbt, which depends on
the repository's own build in the parent directory. The classpath sbt reports
is cached with a stamp of every source and build file, so only the first run
in a checkout (or the first after a source change) pays for the build.
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / "target" / "perfbench-build"

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _sources() -> list:
    roots = [ROOT / "src" / "main", ROOT / "project", BENCH / "src", BENCH / "project"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for r in roots:
        if r.is_dir():
            files += [p for p in r.rglob("*") if p.is_file()
                      and p.suffix in (".scala", ".java", ".sbt", ".properties")
                      and not {"target", "project"} & set(p.relative_to(r).parts[:-1])]
    return sorted(files)


def stamp() -> str:
    h = hashlib.sha256()
    for p in _sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compile the harness and the repository; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no repository sources next to the benchmark (expected {ROOT}/build.sbt "
             "and src/main/scala)")
    st = stamp()
    cp_file, st_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.is_file() and st_file.is_file() and st_file.read_text() == st:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + str(Path.home() / ".sbt" / "repositories")
                       + " -Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g")
    with open(BUILD / "build.log", "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=840)
        log.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed; see {BUILD / 'build.log'}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    st_file.write_text(st)
    return cp


def java_cmd(cp: str, plan: Path, tmp: Path, heap: str = "3g") -> list:
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "perfbench.Main", str(plan)])


def write_plan(path: Path, plan: dict) -> None:
    def esc(v):
        return str(v).replace("\\", "\\\\").replace("\n", "\\n").replace("=", "\\=").replace(":", "\\:")
    path.write_text("".join(f"{k}={esc(v)}\n" for k, v in plan.items()))


def launch(cp: str, plan_path: Path, workdir: Path, timeout: float) -> int:
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    with open(workdir / "jvm.log", "w") as log:
        p = subprocess.Popen(java_cmd(cp, plan_path, tmp), cwd=workdir, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9
