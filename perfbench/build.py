"""Build file of the benchmark harness.

Compiles the library sources (src/main/scala) together with the harness
(perfbench/src) into .bench_build/classes with the Scala compiler that ships
in Spark's jars directory. A stamp of the sources skips the compile when
nothing changed. Run from the repository root:

    python3 perfbench/build.py            # library + harness
    python3 perfbench/build.py --tests    # also the harness's own tests
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

OUT = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME (Spark's jars hold the Scala compiler)")
        home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home) / "jars"
    if not jars.is_dir():
        raise SystemExit(f"perfbench: no jars directory under SPARK_HOME={home}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def sources(root, dirs):
    out = []
    for d in dirs:
        base = root / d
        if not base.is_dir():
            raise SystemExit(f"perfbench: missing source directory {d}")
        out += sorted(str(p) for p in base.rglob("*.scala"))
    return out


def compile_into(root, dirs, out, extra_cp=()):
    """Compile the .scala files under `dirs` into `out` unless the stamp of
    their contents matches the last compile. Returns `out`."""
    srcs = sources(root, dirs)
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode() + pathlib.Path(s).read_bytes())
    for c in extra_cp:  # recompile when a dependency was recompiled
        dep = pathlib.Path(c)
        h.update((dep.parent / (dep.name + ".stamp")).read_bytes())
    stamp = out.parent / (out.name + ".stamp")
    if out.is_dir() and stamp.is_file() and stamp.read_text() == h.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cp = os.pathsep.join(list(extra_cp) + [str(spark_jars() / "*")])
    args_file = out.parent / (out.name + ".args")
    args_file.write_text("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out.parent}",
           "-cp", str(spark_jars() / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(out), "@" + str(args_file)]
    print(f"perfbench: compiling {len(srcs)} files into {out}", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: compile failed")
    stamp.write_text(h.hexdigest())
    return out


def build(root, tests=False):
    """Compile the library and harness (and with `tests`, the harness's
    tests). Returns the classpath entries to run with."""
    root = pathlib.Path(root)
    classes = compile_into(root, ["src/main/scala", "perfbench/src"], root / OUT / "classes")
    cp = [str(classes)]
    if tests:
        cp.append(str(compile_into(root, ["perfbench/test"], root / OUT / "test-classes", cp)))
    return cp + [str(spark_jars() / "*")]


if __name__ == "__main__":
    build(pathlib.Path.cwd(), tests="--tests" in sys.argv)
