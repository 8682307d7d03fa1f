"""Build the program and the tracing harness from source, and launch them.

The program is built with the repository's own sbt build; the harness
(`perfbench/harness`, used only by traced runs) with its own. Both builds
are skipped while a stamp over their sources still matches. The server is
launched the way `sbt runMain` runs it: the build's runtime classpath and
`javaOptions`, one JVM, no build tool in between.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
OUT = os.path.join(HERE, ".build")
HEAP = "2g"


def _sources():
    for base, names in ((ROOT, ("build.sbt", "project/build.properties")),
                        (HARNESS, ("build.sbt", "project/build.properties"))):
        for n in names:
            yield os.path.join(base, n)
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for dirpath, dirnames, files in os.walk(d):
            dirnames.sort()
            for f in sorted(files):
                yield os.path.join(dirpath, f)


def _stamp():
    h = hashlib.sha256()
    for p in _sources():
        h.update(p.encode())
        if os.path.exists(p):
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _sbt(cwd, commands):
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("sbt not found on PATH")
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true"] + commands, cwd=cwd,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("sbt failed in %s" % cwd)
    return r.stdout.splitlines()


def _parse(lines):
    """(javaOptions, classpath) from `print javaOptions` + `export ...`."""
    opts = [l[2:] for l in lines if l.startswith("* ")]
    return opts, lines[-1].strip()


def ensure_built():
    """Build if sources changed; return the launch settings."""
    stamp_file = os.path.join(OUT, "stamp")
    files = {k: os.path.join(OUT, k) for k in ("opts", "cp", "harness-cp")}
    stamp = _stamp()
    fresh = os.path.exists(stamp_file) and open(stamp_file).read() == stamp
    if not fresh:
        shutil.rmtree(OUT, ignore_errors=True)
        os.makedirs(OUT)
        opts, cp = _parse(_sbt(ROOT, ["compile", "print javaOptions",
                                      "export Runtime/fullClasspath"]))
        _, hcp = _parse(_sbt(HARNESS, ["compile", "export Runtime/fullClasspath"]))
        for k, v in (("opts", "\n".join(opts)), ("cp", cp), ("harness-cp", hcp)):
            with open(files[k], "w") as f:
                f.write(v)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    read = lambda k: open(files[k]).read()
    return {"opts": read("opts").splitlines(), "cp": read("cp"),
            "harness_cp": read("harness-cp")}


def launch(built, run_dir, watch, state, chk, port, traced):
    """Start the live server (or the traced harness) as its own process."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if traced:
        cp, main = built["harness_cp"], "perfbench.Traced"
    else:
        cp, main = built["cp"], "graft.HttpServe"
    cmd = (["java"] + built["opts"] + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, main,
           "--live", watch, state, chk, str(port)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = open(os.path.join(run_dir, "server.log"), "ab")
    try:
        return subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL)
    finally:
        log.close()


def stop(proc):
    if proc.poll() is None:
        proc.kill()
    proc.wait()
