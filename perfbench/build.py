"""Build file of the benchmark package.

Compiles the program (src/main/scala) and the benchmark
(perfbench/src, perfbench/test) with the Scala compiler that ships in
Spark's jars, into <build dir>/program and <build dir>/bench. Each stage
is rebuilt only when a hash of its inputs changes.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("perfbench: SPARK_HOME is not set; it locates Spark's jars")
    return os.path.join(home, "jars")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def scala_files(*dirs):
    out = []
    for d in dirs:
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(out)


def digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_stage(name, files, classpath, out_dir, extra_key):
    """Compile `files` into `out_dir` unless its stamp matches."""
    stamp_file = out_dir + ".stamp"
    key = digest(files, extra_key + "|" + classpath)
    if os.path.isdir(out_dir) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == key:
                return key
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, p + "-*.jar")) for p in
                ("scala-compiler", "scala-library", "scala-reflect")]
    if not all(compiler):
        raise SystemExit("perfbench: no Scala compiler in %s" % jars)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = out_dir + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath,
           "@" + args_file]
    print("perfbench: compiling %s (%d files)" % (name, len(files)), file=sys.stderr)
    # compiler output goes to stderr: stdout carries only the result
    if subprocess.call(cmd, stdout=sys.stderr) != 0:
        raise SystemExit("perfbench: %s failed to compile" % name)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    with open(stamp_file, "w") as fh:
        fh.write(key)
    return key


def ensure_built(root, build_dir):
    """Build both stages; return the runtime classpath."""
    os.makedirs(build_dir, exist_ok=True)
    spark_cp = os.path.join(spark_jars(), "*")
    program = os.path.join(build_dir, "program")
    bench = os.path.join(build_dir, "bench")
    program_key = compile_stage(
        "program", scala_files(os.path.join(root, "src", "main", "scala")),
        spark_cp, program, "")
    compile_stage(
        "benchmark", scala_files(os.path.join(HERE, "src"), os.path.join(HERE, "test")),
        os.pathsep.join([program, spark_cp]), bench, program_key)
    resources = os.path.join(root, "src", "main", "resources")
    return os.pathsep.join([bench, program, resources, spark_cp])


if __name__ == "__main__":
    print(ensure_built(os.getcwd(), os.path.join(os.getcwd(), ".bench_build")))
