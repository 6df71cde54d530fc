"""Build file of the benchmark.

Compiles the engine (``src/main``) into ``.bench_build/perfbench/engine-<hash>.jar``
and the benchmark's own sources (``perfbench/src``) against it into
``.bench_build/perfbench/bench-<hash>.jar``, using ``javac``, ``jar`` and the
Scala compiler that ships with Spark (``$SPARK_HOME/jars``; no sbt, no network). Each
hash covers its source files, so a changed tree rebuilds and an unchanged
one reuses its jar.

    python3 perfbench/build.py        # build (or reuse) and print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
# the engine tree to build: this repository, or another checkout when
# compare.py runs this benchmark against a parent tree
ROOT = Path(os.environ.get("PERFBENCH_ROOT", BENCH.parent)).resolve()
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, or the jars dir beside a spark-submit on the PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = Path(d).parent / "jars"
        if (Path(d) / "spark-submit").exists() and jars.is_dir():
            return jars
    return Path("jars")


def classpath(jars) -> str:
    """The given jars, then Spark's, in a fixed order."""
    return os.pathsep.join([str(j) for j in jars] + [str(j) for j in sorted(spark_jars().glob("*.jar"))])


def tree_hash(files, salt: str = "") -> str:
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def compile_into(name: str, java, scala, resources, deps, log) -> Path:
    """Compile into OUT/<name>.jar unless that jar exists."""
    target = OUT / f"{name}.jar"
    if target.exists():
        return target
    prefix = name.rsplit("-", 1)[0] + "-"
    for old in OUT.glob(prefix + "*"):
        if old.is_dir():
            shutil.rmtree(old, ignore_errors=True)
        else:
            old.unlink()
    tmp = OUT / (prefix + "tmp")
    tmp.mkdir(parents=True)
    cp = classpath([tmp] + deps)
    if java:
        print(f"perfbench: javac {len(java)} files", file=log, flush=True)
        subprocess.run(["javac", "-encoding", "UTF-8", "-nowarn", "-d", str(tmp),
                        "--add-modules", "jdk.incubator.vector", "-cp", cp]
                       + [str(p) for p in java], check=True, stdout=log, stderr=log)
    print(f"perfbench: scalac {len(scala)} files", file=log, flush=True)
    argfile = OUT / (prefix + "sources.txt")
    argfile.write_text("\n".join(str(p) for p in scala) + "\n")
    subprocess.run(["java", "-Xmx3g", "-Xss8m", "-cp", f"{spark_jars()}/*",
                    "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn",
                    "-d", str(tmp), "-cp", cp, f"@{argfile}"],
                   check=True, stdout=log, stderr=log)
    if resources is not None and resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    partial = OUT / (prefix + "tmp.jar")
    subprocess.run(["jar", "cf", str(partial), "-C", str(tmp), "."], check=True, stdout=log, stderr=log)
    shutil.rmtree(tmp)
    partial.rename(target)
    return target


def build(log=sys.stderr):
    """Return the jars (engine, benchmark) for the current sources,
    compiling what changed. The engine is hashed on its own, so
    editing the benchmark does not recompile the engine."""
    main = ROOT / "src" / "main"
    if not (main / "scala").is_dir():
        raise RuntimeError(f"no engine sources under {main / 'scala'}")
    if not spark_jars().is_dir():
        raise RuntimeError(f"no Spark jars at {spark_jars()} (set SPARK_HOME)")
    OUT.mkdir(parents=True, exist_ok=True)
    java = sorted((main / "java").rglob("*.java"))
    scala = sorted((main / "scala").rglob("*.scala"))
    resources = main / "resources"
    res_files = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    engine_hash = tree_hash(java + scala + res_files)
    engine = compile_into(f"engine-{engine_hash}", java, scala, resources, [], log)
    bench_src = sorted((BENCH / "src").rglob("*.scala"))
    bench_hash = tree_hash(bench_src + [Path(__file__).resolve()], engine_hash)
    bench = compile_into(f"bench-{bench_hash}", [], bench_src, None, [engine], log)
    return [engine, bench]


if __name__ == "__main__":
    print("\n".join(str(j) for j in build()))
