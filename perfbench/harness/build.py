"""Build file of the benchmark's harness package.

Compiles the program (`src/main/scala`) together with the harness
(`harness/src`) with the Scala compiler that sits among the jars the
repo's `build.sbt` compiles against (`unmanagedBase`), once per source
state, into `<out_root>/classes-<hash>`. Raises `BuildError` when it
cannot.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory the repo's build.sbt compiles against; it holds
    Spark and the Scala compiler."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                             f.read()).group(1)
    except (OSError, AttributeError):
        raise BuildError("no unmanagedBase jar directory in build.sbt")


def build(out_root, jars_dir):
    """Compile the program and the harness once per source state."""
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                               recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                               recursive=True))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    digest = hashlib.sha256()
    for path in program + harness:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(out_root, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    for stale in glob.glob(os.path.join(out_root, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(classes)
    # scalac does not expand classpath wildcards: list the jars
    jars = ":".join(sorted(glob.glob(os.path.join(jars_dir, "*.jar"))))
    argfile = os.path.join(out_root, "scalac-args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-d", classes, "-nowarn", "-classpath", jars]
                          + program + harness))
    compiler = ":".join(p for part in ("compiler", "library", "reflect")
                        for p in glob.glob(os.path.join(
                            jars_dir, "scala-%s-2.13.*.jar" % part)))
    rc = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                         "-Djava.io.tmpdir=" + out_root, "-cp", compiler,
                         "scala.tools.nsc.Main", "@" + argfile],
                        stdout=sys.stderr).returncode
    if rc != 0:
        raise BuildError("compilation failed")
    open(os.path.join(classes, ".done"), "w").close()
    return classes
