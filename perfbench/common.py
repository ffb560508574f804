"""Shared pieces of the benchmark: machine sizing, the JVM command line,
the percentile helper, and the JVM harness process wrapper."""
import os
import queue
import subprocess
import threading
import time

import build

ROOT = build.ROOT

# Same module openings the project's sbt build passes to forked JVMs
# (Spark on JDK 17 outside spark-submit).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb():
    """The tier-1 test formula: half of MemTotal in whole GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def loadavg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def cpu_ticks():
    """(steal, total) CPU ticks of the machine since boot; steal is time a
    virtual machine's CPUs waited for the host, a sign of a busy host."""
    try:
        t = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return (t[7] if len(t) > 7 else 0), sum(t)
    except (OSError, ValueError):
        return 0, 0


def source_id():
    """The git commit when run inside a git work tree, else the build
    stamp (a hash of the compiled sources)."""
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    p = os.path.join(build.build_dir(), "build.stamp")
    return "src-" + open(p).read()[:16] if os.path.exists(p) else "unknown"


def percentile(values, q):
    """q-th percentile (0..100) with linear interpolation between closest
    ranks (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def java_cmd(work, args, c1_only):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # No perf-data file in the system temp directory.
    flags = [f"-Xmx{heap_gb()}g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData"]
    if c1_only:
        flags.append("-XX:TieredStopAtLevel=1")
    return (["java"] + opens + flags +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
             "-cp", build.classpath(), "perfbench.Harness"] + [str(a) for a in args])


def jvm_env(work):
    env = dict(os.environ)
    # Spark scratch (shuffle, spill, checkpoints) stays inside the work dir.
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    env.pop("SPARK_GRAFT_CONF", None)
    return env


class Jvm:
    """A running harness JVM: stdout lines starting with "PB " are queued
    as messages; stderr goes to a log file in the work directory."""

    def __init__(self, work, args, name, c1_only=False):
        cmd = java_cmd(work, args, c1_only)
        self.log = open(os.path.join(work, name + ".log"), "w")
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=work, env=jvm_env(work), stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.log, text=True)
        self.msgs = queue.Queue()
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("PB "):
                self.msgs.put(line[3:].strip())
        self.msgs.put(None)

    def expect(self, prefix, timeout=170):
        """Wait for the next message; it must start with `prefix`. Returns
        (rest of message, seconds since launch)."""
        deadline = time.monotonic() + timeout
        while True:
            try:
                m = self.msgs.get(timeout=max(0.1, deadline - time.monotonic()))
            except queue.Empty:
                raise RuntimeError(f"harness JVM: no '{prefix}' within {timeout}s")
            if m is None:
                raise RuntimeError(f"harness JVM exited ({self.proc.wait()}) before '{prefix}'; "
                                   f"see {self.log.name}")
            if m.startswith(prefix):
                return m[len(prefix):].strip(), time.monotonic() - self.t0
            raise RuntimeError(f"harness JVM: expected '{prefix}', got '{m}'")

    def send(self, line):
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def stop(self):
        """Ask a serving JVM to shut down, then wait for it."""
        try:
            self.send("quit")
        except OSError:
            pass
        self.close()

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.close()

    def close(self, timeout=60):
        try:
            if self.proc.poll() is None:
                try:
                    self.proc.stdin.close()
                except OSError:
                    pass
                self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        finally:
            self.reader.join(timeout=5)
            self.log.close()
