"""Builds the program and the benchmark harness from source.

The program is every `.scala` file under `src/main/scala` of the checkout;
the harness is `perfbench/src`. Both compile in one `scalac` pass against the
Spark jars the program's `build.sbt` names as its `unmanagedBase` (the Scala
compiler ships among them), so no build tool or network is needed. The
classes are packed into `program.jar`, and a short training JVM
(`perfbench.ClassTraining`) dumps a class-data-sharing archive,
`program.jsa`, that every harness JVM maps at start, which saves each run
~4 s of class loading. Both land in `<build root>/classes-<digest>`, keyed
by the digest of every source file and the jar listing, and are reused
while that digest holds.

    python3 perfbench/build.py [BUILD_ROOT]    # prints the build directory
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the packages Spark reflects into on a JDK 17 (as `build.sbt` opens them)
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def jars_dir(root=ROOT):
    """The jar directory `build.sbt` declares, else `$SPARK_HOME/jars`."""
    candidates = []
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark jar directory with a Scala compiler (tried %s)" % candidates)


def sources(root=ROOT):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise BuildError("no program sources under %s/src/main/scala" % root)
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog + harness


def java_cmd(build_dir, jars, heap, tmp, share=True):
    """The JVM command line, up to the main class, for the built program."""
    jsa = os.path.join(build_dir, "program.jsa")
    return (["java", "-Xmx" + heap, "-Xlog:cds=off"]
            + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in JDK_OPENS]
            + (["-XX:SharedArchiveFile=" + jsa] if share and os.path.isfile(jsa) else [])
            + ["-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
               "-cp", os.path.join(build_dir, "program.jar") + os.pathsep + os.path.join(jars, "*")])


def build(build_root, root=ROOT):
    """Compile if needed; returns (build dir, jar dir)."""
    jars = jars_dir(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    out = os.path.join(build_root, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out, jars
    tmp = out + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    with zipfile.ZipFile(os.path.join(tmp, "program.jar"), "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for n in sorted(files):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    shutil.rmtree(classes)
    os.remove(argfile)
    # the archive records the jar's final path, so it is dumped in place
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    train = os.path.join(out, "train")
    os.makedirs(train)
    jsa = os.path.join(out, "program.jsa")
    cmd = java_cmd(out, jars, "1g", train, share=False)
    t = subprocess.run(cmd[:1] + ["-XX:ArchiveClassesAtExit=" + jsa] + cmd[1:]
                       + ["perfbench.ClassTraining", train],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
    shutil.rmtree(train)
    if t.returncode != 0:
        # an optimisation only: without the archive runs start slower
        print("perfbench: no class-data-sharing archive:\n" + t.stdout[-2000:], file=sys.stderr)
        if os.path.exists(jsa):
            os.remove(jsa)
    open(os.path.join(out, ".complete"), "w").close()
    return out, jars


if __name__ == "__main__":
    root_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    try:
        print(build(os.path.abspath(root_dir))[0])
    except BuildError as e:
        sys.exit("build failed: %s" % e)
