"""Build for the pipeline benchmark: compiles the program (src/main/scala)
and the harness (perfbench/scala) with the Scala compiler that ships in the
Spark distribution, so no build tool and no network is needed.

Outputs go to `<base>/classes/{main,bench}-<source hash>`; an unchanged
source tree is not rebuilt. `build()` returns the runtime classpath.

    python3 perfbench/build.py   # from the repository root
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys



def _sources(d):
    out = []
    for root, _, files in os.walk(d):
        out += [os.path.join(root, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def _digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(files, out, jars, extra_cp, log):
    if os.path.isdir(out):
        return
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if extra_cp:
        cmd += ["-classpath", extra_cp]
    with open(log, "wb") as lf:
        code = subprocess.run(cmd + files, stdout=lf, stderr=lf,
                              stdin=subprocess.DEVNULL).returncode
    if code != 0:
        with open(log, errors="replace") as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"perfbench: compile failed ({log})")
    try:
        os.replace(tmp, out)
    except OSError:  # a concurrent build of the same sources finished first
        shutil.rmtree(tmp, ignore_errors=True)


def spark_jars(root):
    """`$SPARK_HOME/jars`, else the jar directory the sbt build uses."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    m = os.path.isfile(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                          open(sbt).read())
    return m.group(1) if m else ""


def build(root, base):
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars (set SPARK_HOME); tried '{jars}'")
    main_src = _sources(os.path.join(root, "src", "main"))
    bench_src = _sources(os.path.join(root, "perfbench", "scala"))
    if not main_src or not bench_src:
        raise SystemExit("perfbench: program or harness sources missing")
    main_key = _digest(main_src)
    classes = os.path.join(base, "classes")
    os.makedirs(classes, exist_ok=True)
    main_out = os.path.join(classes, f"main-{main_key}")
    bench_out = os.path.join(classes, f"bench-{_digest(bench_src, main_key)}")
    _compile(main_src, main_out, jars, None, os.path.join(classes, "main.log"))
    _compile(bench_src, bench_out, jars, main_out, os.path.join(classes, "bench.log"))
    return os.pathsep.join([bench_out, main_out, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build", "perfbench")))
