"""Build the program and the benchmark from source with scalac.

The program (src/main/scala) and the benchmark (perfbench/src) are
compiled against the Spark jars into the build directory
($CARGO_TARGET_DIR, default .bench_build). Each output carries a stamp of
its inputs, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py      # prints the runtime classpath
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"


class BuildError(Exception):
    pass


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> Path:
    """SPARK_HOME's jars, else the directory the project's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources(root: Path) -> list:
    return sorted(p for p in root.rglob("*.scala") if p.is_file()) if root.is_dir() else []


def stamp(files: list, extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_into(name: str, srcs: list, classpath: list, jars: Path, extra: str = "") -> Path:
    """Compile `srcs` into build_dir()/name unless its stamp is current."""
    out = build_dir() / name
    key = stamp(srcs, extra + ":".join(str(c) for c in classpath))
    stamp_file = out / "STAMP"
    if stamp_file.is_file() and stamp_file.read_text() == key:
        return out / "classes"
    tmp = build_dir() / f"{name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    jar_cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    cp = os.pathsep.join([jar_cp] + [str(c) for c in classpath])
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jar_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp / "classes"), "-classpath", cp, f"@{argfile}"]
    print(f"[perfbench] compiling {name} ({len(srcs)} files)", file=sys.stderr)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed for {name}:\n{res.stdout[-4000:]}")
    (tmp / "STAMP").write_text(key)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out / "classes"


def build() -> list:
    """Compile what changed; return the runtime classpath."""
    program = sources(PROGRAM_SRC)
    if not program:
        raise BuildError(f"no program sources under {PROGRAM_SRC.relative_to(ROOT)}")
    jars = spark_jars()
    prog = compile_into("program", program, [], jars)
    # the benchmark links against the program's classes: rebuild it when they change
    bench = compile_into("perfbench", sources(BENCH_SRC), [prog], jars,
                         extra=(prog.parent / "STAMP").read_text())
    return [str(jars / "*"), str(prog), str(PROGRAM_RES), str(bench)]


def source_digest() -> str:
    """Digest of the program's sources: identifies the code under test."""
    return stamp(sources(PROGRAM_SRC), "")


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
