"""Build the engine and the harness from source, once per source state.

The harness is its own sbt build (``perfbench/harness``) that depends on
the engine's build at the checkout root. A stamp over every source file
both builds read decides whether a rebuild is needed; the runtime
classpath sbt resolves is kept next to the stamp.
"""

import hashlib
import os
import subprocess

ENGINE_INPUTS = ["build.sbt", "project/build.properties", "src/main"]
HARNESS_INPUTS = ["perfbench/harness/build.sbt",
                  "perfbench/harness/project/build.properties",
                  "perfbench/harness/src"]


def _files(root, rel):
    path = os.path.join(root, rel)
    if os.path.isfile(path):
        return [rel]
    out = []
    for d, _, names in os.walk(path):
        for n in names:
            out.append(os.path.relpath(os.path.join(d, n), root))
    return sorted(out)


def source_stamp(root):
    h = hashlib.sha256()
    for rel in ENGINE_INPUTS + HARNESS_INPUTS:
        for f in _files(root, rel):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env(tmp):
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["TMPDIR"] = tmp
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built(root, state_dir, timeout_s):
    """Return the harness runtime classpath, building first if the
    sources changed since the last build in this checkout."""
    stamp_file = os.path.join(state_dir, "build.stamp")
    cp_file = os.path.join(state_dir, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh, open(cp_file) as cf:
            same, cp = fh.read().strip() == stamp, cf.read().strip()
        if same and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log = os.path.join(state_dir, "build.log")
    tmp = os.path.join(state_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "compile", "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench", "harness"), env=sbt_env(tmp),
            stdout=subprocess.PIPE, stderr=fh, text=True, timeout=timeout_s)
        fh.write(proc.stdout)
    if proc.returncode != 0:
        raise RuntimeError(f"build failed (exit {proc.returncode}); see {log}")
    lines = [ln for ln in proc.stdout.splitlines()
             if ".jar" in ln and not ln.startswith("[")]
    if not lines:
        raise RuntimeError(f"build printed no classpath; see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp
