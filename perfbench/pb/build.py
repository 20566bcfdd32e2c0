"""Build the engine and the harness from source with sbt, once per source
state, and hand back the runtime classpath."""
import hashlib
import os
import subprocess
import sys

SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
            "-Dsbt.repository.config={home}/.sbt/repositories")


def fingerprint(root):
    """Hash of the path, size and mtime of every build input."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        path = os.path.join(root, top)
        if os.path.isfile(path):
            walk = [(os.path.dirname(path), [], [os.path.basename(path)])]
        else:
            walk = os.walk(path)
        for d, dirs, names in walk:
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for n in sorted(names):
                if n.endswith((".scala", ".sbt", ".properties", ".java")):
                    st = os.stat(os.path.join(d, n))
                    h.update(f"{os.path.join(d, n)}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def classpath(root, work, timeout_s):
    """Compile if the sources changed since the last build; return the
    harness's runtime classpath."""
    stamp = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    fp = fingerprint(root)
    if os.path.exists(stamp) and open(stamp).read() == fp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, timeout=timeout_s,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise RuntimeError("build failed")
    cp = [ln for ln in lines if not ln.startswith("[") and os.pathsep in ln
          and ".jar" in ln]
    if not cp:
        raise RuntimeError("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(fp)
    return cp[-1].strip()
