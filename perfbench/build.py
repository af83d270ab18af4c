#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main, with its
resources) and then the benchmark harness (perfbench/src) against it, with
the Scala compiler that ships among Spark's jars, so no build tool or
network is needed.

Usage: python3 perfbench/build.py   (prints the classpath of both)

Output lands in <checkout>/.bench_build (or $CARGO_TARGET_DIR, taken
relative to the checkout) under a key of the sources' content hash, so a
rebuild happens only when a source file changes.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars of the first Spark install on PATH
    that ships a Scala compiler."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [Path(d).resolve().parent for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and (Path(d) / "spark-submit").exists()]
    for home in homes:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home / "jars"
    raise SystemExit("build: no Spark jars with a Scala compiler found (set SPARK_HOME)")


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def _hash(files, base: str = "") -> str:
    h = hashlib.sha256(base.encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _compile(out: Path, files, classpath: str, resources=None) -> Path:
    """scalac `files` into `out` (skipped when already complete)."""
    if (out / ".complete").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out.parent / f"{out.name}.sources{os.getpid()}"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-classpath", classpath, "-d", str(tmp),
           "-nowarn", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    if resources:
        root, res = resources
        for p in res:
            dst = tmp / p.relative_to(root)
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(p, dst)
    (tmp / ".complete").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def ensure() -> str:
    """Build graft, then the harness against it; returns the classpath of
    both class directories."""
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"build: no graft sources at {main}")
    graft_src = sorted(main.rglob("*.scala"))
    res_root = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in res_root.rglob("*") if p.is_file()) if res_root.is_dir() else []
    bench_src = sorted((BENCH / "src").rglob("*.scala"))
    spark_cp = str(spark_jars() / "*")
    gkey = _hash(graft_src + res)
    graft = _compile(build_dir() / f"graft-{gkey}", graft_src, spark_cp, (res_root, res))
    bench = _compile(build_dir() / f"bench-{_hash(bench_src, gkey)}", bench_src,
                     f"{graft}{os.pathsep}{spark_cp}")
    return f"{bench}{os.pathsep}{graft}"


if __name__ == "__main__":
    print(ensure())
