"""SparkSession factory tuned for the engine.

Local-mode defaults are sized for the test harness (local[N] single JVM);
every setting here also holds on a real cluster: AQE re-plans shuffles at
runtime (partition coalescing + skew-join splitting), UTC session timezone
makes results independent of cluster locale (designing out the reference's
current-culture dependence, CSVSourceReader.cs:237), and Arrow transfer
keeps the Python boundary vectorized.

Cold start. The reference runs one ``RunJob`` per scheduled invocation
(CSVProvider.cs:543-601), so JVM start-up and class loading outweigh a
small job. When this process launches the driver JVM, ``get_spark`` gives
it a JDK dynamic class-data-sharing (CDS) archive that the engine builds
itself:

* An archive only pays off where the cache outlives the process, so the
  first launch that finds no archive only leaves a ``.seen`` mark and
  starts plain. A throwaway container or CI run that starts Spark once
  pays nothing.
* The next launch that finds the mark adds ``-XX:ArchiveClassesAtExit``
  with a private temp name. At interpreter exit the engine waits for that
  JVM to exit, probes the file with ``java -Xshare:on ... -version`` and
  only then publishes it with ``os.replace``. The dump runs at JVM exit,
  never inside a job.
* Later launches pass ``-XX:SharedArchiveFile=<archive> -Xshare:auto``.

The archive (140-210 MB) lives in ``$XDG_CACHE_HOME/spark-graft`` (or
``~/.cache/spark-graft``), which must be owned by the user with mode 0700.
Its key has an install part (the JDK and every driver class-path jar's
name, size and mtime) and a variant part (the heap's side of the 32 GiB
compressed-pointer line and the caller's ``-XX:`` flags, which decide
whether an archive maps). Files of another install are deleted; the
variants of the current install are kept. A file whose size, mtime or
inode differ from what was published is never handed to a JVM, because
a truncated archive crashes the JVM instead of falling back. CDS writes
nothing while a non-empty directory is on the class path, so the launch
points ``SPARK_CONF_DIR`` at an empty directory in the cache. The launch
is plain when the configured conf dir holds anything but ``*.template``
files, when the caller's Java options already choose CDS flags, when the
class path is customised, or when the JVM was not started by this
process (spark-submit, a running session). CDS warnings are switched
off, so a stale archive falls back silently.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import json
import os
import re
import secrets
import shlex
import shutil
import stat
import subprocess
import time
from collections.abc import Mapping, Sequence
from dataclasses import dataclass
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dataintegration_csvprovider_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]`` and size shuffle partitions to the core
    count (the stock 200 over-parallelizes small data and under-parallelizes
    100 TB — at scale callers pass an explicit value or rely on AQE
    coalescing from a high initial number). The driver heap is
    ``spark.driver.memory`` from ``extra_conf``, else
    ``$SPARK_GRAFT_DRIVER_MEM``, else half of physical memory up to 24g.
    Python workers get the package's parent directory on their path. A
    launch of the driver JVM uses the class-data-sharing archive described
    in the module docstring.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    extra_conf = extra_conf or {}
    memory = (
        extra_conf.get("spark.driver.memory")
        or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or _default_heap(_physical_memory())
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NO initialPartitionNum override — measured and rejected twice
        # on local[32]: a 512 initial cost ~0.3 s on the sf0.1 exact-
        # Jaccard (A/B 2.6-3.1 s vs 2.4-2.7 s) and ~15% on 10× pagerank
        # (A/B warm 8.0 s vs 6.9 s — one wide-then-coalesce round per
        # iteration), while the Σdf² 30× pair aggregation it was meant
        # to help proved throughput-bound, not reducer-bound (412 s at
        # 74 reducers ≈ 401 s at 32). On a real cluster, size
        # shuffle_partitions for the job instead.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # a file's split size is max(openCost, (bytes + openCost) / cores);
        # at the stock 4 MB a table under 4 MB is one task however many
        # cores wait. At 256 KB a 3 MB single-file ETL table splits in two
        # even halves on local[2]: steady-state run_job 0.480 -> 0.424 s
        # (medians of 21, 2 pinned vCPUs of a shared 4-vCPU host). With
        # the replace kernels, 64 KB / 256 KB / 1 MB gave 0.346 / 0.326 /
        # 0.371 s; at 1 MB the two splits are 2:1
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the reference's encoding surface includes cp1252/cp1251
        # (CSVProvider.cs:603-616); Spark 4 gates non-core charsets
        .config("spark.sql.legacy.javaCharsets", "true")
        # parquet TIMESTAMP(NANOS) (events fixture) is unreadable without
        # this; the catalog converts the raw nanos to microsecond timestamps
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # local mode runs driver + all executor threads in ONE JVM, so
        # this is the whole engine's heap: 8g put the 30× dedup probe's
        # shuffle stage into GCLocker/OOM territory on a 128 GiB box
        .config("spark.driver.memory", memory)
        # Python workers import the package's UDF and mapInPandas
        # closures by reference, so they need it on their path whatever
        # the working directory (on a cluster: addPyFile a zip of it)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    launch = _plan_launch(extra_conf, memory) if SparkContext._gateway is None else None
    if launch is None:
        spark = builder.getOrCreate()
    else:
        builder = builder.config("spark.driver.extraJavaOptions", launch.java_options)
        with _environ(SPARK_CONF_DIR=launch.conf_dir):
            spark = builder.getOrCreate()
        if launch.dump is not None:
            launch.dump.publish_at_exit(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: the directory that holds the package, for the Python workers' path
_PACKAGE_PARENT = str(Path(__file__).resolve().parent.parent)
#: the default heap never exceeds this, whatever the host has
_MAX_DEFAULT_HEAP_GIB = 24


def _physical_memory() -> int | None:
    """Bytes of physical memory, or ``None`` where ``sysconf`` cannot
    tell."""
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return None


def _default_heap(physical: int | None) -> str:
    """The driver heap when neither the caller nor
    ``SPARK_GRAFT_DRIVER_MEM`` sets one: half of physical memory in whole
    GiB, at least 1g and at most 24g (24g where the size is unknown). A
    heap that outgrows the host then fails inside the JVM with a Java
    error instead of the kernel killing the process; staying under 32 GiB
    keeps the archive key's compressed-pointer side."""
    if not physical:
        return f"{_MAX_DEFAULT_HEAP_GIB}g"
    return f"{max(1, min(_MAX_DEFAULT_HEAP_GIB, physical // 2 >> 30))}g"


#: JVM flags that choose class-data sharing; a caller who sets any of
#: them keeps full control and gets a plain launch
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
#: environment variables whose Java options reach the driver JVM
_JAVA_OPTION_VARS = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS")
#: environment variables that add driver class-path entries
_CLASSPATH_VARS = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                   "SPARK_PREPEND_CLASSES", "SPARK_CLASSPATH")
#: unified-logging selector that keeps CDS warnings (a stale archive, a
#: signed jar skipped at dump) off the user's terminal
_QUIET = "-Xlog:cds*=off"
#: first bytes of a JDK dynamic archive (CDS_DYNAMIC_ARCHIVE_MAGIC,
#: little-endian)
_DYNAMIC_MAGIC = bytes.fromhex("a8ab0bf0")
#: longest wait at interpreter exit for the dumping JVM; the dump takes
#: about 11 s on a 4-vCPU host
_DUMP_WAIT_S = 300.0
#: a dump that failed for a reason a retry would repeat (nothing written,
#: a class path the key does not describe, a failed probe) is not retried
#: for this long
_RETRY_AFTER_S = 86400.0


@dataclass(frozen=True)
class _Archive:
    """The archive slot for one key inside the cache directory."""

    cache: Path
    key: str
    java: str
    classpath: tuple[str, ...]

    @property
    def path(self) -> Path:
        return self.cache / f"{self.key}.jsa"

    @property
    def manifest(self) -> Path:
        return self.cache / f"{self.key}.json"

    @property
    def failed(self) -> Path:
        return self.cache / f"{self.key}.failed"

    @property
    def seen(self) -> Path:
        return self.cache / f"{self.key}.seen"

    def commit(self, tmp: Path) -> None:
        """Publish the archive written to ``tmp``: move it into place,
        then record its identity for :func:`_usable`. A concurrent
        publisher can only make the record disagree with the file, which
        reads as no archive."""
        identity = _identity(os.stat(tmp))
        os.replace(tmp, self.path)
        manifest = tmp.with_suffix(".json.tmp")
        manifest.write_text(json.dumps(identity))
        os.replace(manifest, self.manifest)


@dataclass(frozen=True)
class _Launch:
    """How one driver JVM launch uses the archive."""

    java_options: str
    conf_dir: str
    dump: _Dump | None = None


def _plan_launch(
    extra_conf: Mapping[str, str], driver_memory: str, env: Mapping[str, str] = os.environ
) -> _Launch | None:
    """The CDS launch for a driver JVM started with ``extra_conf`` and a
    ``driver_memory`` heap under ``env``: map a valid archive, dump a new
    one, or ``None`` for a plain launch. Never raises for file-system
    trouble; that gives ``None``."""
    try:
        return _plan(extra_conf, driver_memory, env)
    except OSError:
        return None


def _plan(
    extra_conf: Mapping[str, str], driver_memory: str, env: Mapping[str, str]
) -> _Launch | None:
    if os.name != "posix" or env.get("PYSPARK_GATEWAY_PORT"):
        return None
    # custom submit arguments may add Java options or class-path entries
    if env.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell":
        return None
    caller = extra_conf.get("spark.driver.extraJavaOptions", "")
    options = [caller, *(env.get(v, "") for v in _JAVA_OPTION_VARS)]
    if any(flag in o for o in options for flag in _CDS_FLAGS):
        return None
    if "spark.driver.extraClassPath" in extra_conf or any(env.get(v) for v in _CLASSPATH_VARS):
        return None
    spark_home = env.get("SPARK_HOME") or _find_spark_home()
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and any(not n.endswith(".template") for n in os.listdir(conf_dir)):
        return None
    cache, java = _cache_dir(env), _java(env)
    if cache is None or java is None:
        return None
    empty_conf = cache / "conf"
    empty_conf.mkdir(mode=0o700, exist_ok=True)
    if any(empty_conf.iterdir()):
        return None
    classpath = _driver_classpath(spark_home, str(empty_conf))
    key = _fingerprint(java, classpath, _compressed_oops(driver_memory), _xx_flags(options))
    archive = _Archive(cache, key, java, tuple(classpath))

    def launch(cds: str, dump: _Dump | None = None) -> _Launch:
        return _Launch(" ".join(filter(None, [caller, cds, _QUIET])), str(empty_conf), dump)

    if _usable(archive):
        return launch(f"-XX:SharedArchiveFile={shlex.quote(str(archive.path))} -Xshare:auto")
    if archive.failed.exists() and time.time() - archive.failed.stat().st_mtime < _RETRY_AFTER_S:
        return None
    if not archive.seen.exists():
        # an archive only pays off where the cache outlives the process
        # (a throwaway container or CI run never launches twice), so the
        # first launch leaves a mark and the next launch that finds it
        # dumps
        archive.seen.touch()
        return None
    _prune(cache, keep=archive.key)
    tmp = cache / f"{archive.key}.{os.getpid()}-{secrets.token_hex(4)}.tmp"
    return launch(f"-XX:ArchiveClassesAtExit={shlex.quote(str(tmp))}", _Dump(archive, tmp))


def _cache_dir(env: Mapping[str, str]) -> Path | None:
    """The user-private cache directory, created if missing; ``None``
    unless it is owned by this user, has mode 0700 and is writable."""
    root = env.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(root):  # the XDG spec ignores relative values
        root = os.path.join(os.path.expanduser("~"), ".cache")
    cache = Path(root) / "spark-graft"
    cache.mkdir(mode=0o700, parents=True, exist_ok=True)
    st = cache.stat()
    private = st.st_uid == os.getuid() and stat.S_IMODE(st.st_mode) == 0o700
    return cache if private and os.access(cache, os.W_OK | os.X_OK) else None


def _java(env: Mapping[str, str]) -> str | None:
    """The ``java`` that spark-submit runs: ``$JAVA_HOME/bin/java``, else
    the one on ``PATH``; resolved through links."""
    home = env.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java", path=env.get("PATH"))
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _driver_classpath(spark_home: str, conf_dir: str) -> list[str]:
    """The entries spark-submit puts on a stock driver class path: the
    conf dir and every jar under ``$SPARK_HOME/jars``, in directory
    order."""
    jars = os.path.join(spark_home, "jars")
    return [conf_dir] + [
        os.path.join(jars, n) for n in os.listdir(jars) if n.lower().endswith(".jar")
    ]


def _compressed_oops(driver_memory: str) -> bool:
    """Whether a JVM with this ``spark.driver.memory`` heap uses
    compressed object pointers (heaps under 32 GiB). An archive dumped on
    one side of that line does not map on the other, so it is part of
    the key; heap sizes on the same side share the archive."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", driver_memory.lower())
    if m is None:
        return True
    shift = {"k": 10, "": 20, "m": 20, "g": 30, "t": 40}[m.group(2)]
    return int(m.group(1)) << shift < 32 << 30


def _xx_flags(options: list[str]) -> list[str]:
    """The ``-XX:`` flags in Java option strings; flags such as
    ``-XX:-UseCompressedOops`` or ``-XX:ObjectAlignmentInBytes`` decide
    whether an archive maps."""
    flags = []
    for o in options:
        try:
            tokens = shlex.split(o)
        except ValueError:
            tokens = o.split()
        flags += [t for t in tokens if t.startswith("-XX:")]
    return flags


def _fingerprint(
    java: str, classpath: list[str] | tuple[str, ...], coops: bool = True, flags: Sequence[str] = ()
) -> str:
    """Archive key ``<install>-<variant>``. The install part covers the
    JDK (its ``java``, module image and ``libjvm``) and each class-path
    entry (a file by path, size and mtime, a directory by path), so a JDK
    update or a replaced jar gives a new key. The variant part covers
    the compressed-pointer mode and the caller's ``-XX:`` flags."""
    jdk = os.path.dirname(os.path.dirname(java))
    files = [java, os.path.join(jdk, "lib", "modules"), os.path.join(jdk, "lib", "server", "libjvm.so")]
    install = hashlib.sha256()
    for path in files + list(classpath):
        try:
            st = os.stat(path)
            size, mtime = (0, 0) if stat.S_ISDIR(st.st_mode) else (st.st_size, st.st_mtime_ns)
            install.update(f"{path}\0{size}\0{mtime}\n".encode())
        except OSError:
            install.update(f"{path}\0-\n".encode())
    variant = hashlib.sha256("\n".join(["coops" if coops else "nocoops", *flags]).encode())
    return f"{install.hexdigest()[:24]}-{variant.hexdigest()[:8]}"


def _identity(st: os.stat_result) -> list[int]:
    return [st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns]


def _usable(archive: _Archive) -> bool:
    """True only for the file the engine published for this key: same
    inode, size and mtime as its manifest, and the dynamic-archive magic.
    A truncated or foreign file fails this and never reaches a JVM."""
    try:
        recorded = json.loads(archive.manifest.read_text())
        with open(archive.path, "rb") as fh:
            same = recorded == _identity(os.fstat(fh.fileno()))
            return same and fh.read(len(_DYNAMIC_MAGIC)) == _DYNAMIC_MAGIC
    except (OSError, ValueError):
        return False


def _prune(cache: Path, keep: str) -> None:
    """Remove the files of every key whose install part differs from
    ``keep``'s (another JDK or jar set, never usable again), and temp
    files whose writer is gone. Other variants of the same install stay,
    so callers on both sides of the compressed-pointer line do not
    delete each other's archive."""
    install = keep.split("-", 1)[0]
    for entry in cache.iterdir():
        name = entry.name
        if entry.is_dir():
            continue
        if name.endswith(".tmp"):
            pid = name.split(".")[1].split("-")[0]
            if pid.isdigit() and _alive(int(pid)):
                continue
        elif name.split(".", 1)[0].split("-", 1)[0] == install:
            continue
        with contextlib.suppress(FileNotFoundError):
            entry.unlink()


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by someone else
        pass
    return True


@dataclass(frozen=True)
class _Dump:
    """A launch that writes the archive to ``tmp`` when its JVM exits."""

    archive: _Archive
    tmp: Path

    def publish_at_exit(self, spark: SparkSession) -> None:
        """Record what the probe needs from the live JVM and publish the
        archive at interpreter exit."""
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is None:
            return
        jvm = spark.sparkContext._jvm
        classpath = jvm.java.lang.System.getProperty("java.class.path")
        args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        # heap size and GC flags decide whether the archive maps at all
        flags = [a for a in args if a.startswith(("-Xmx", "-Xms", "-XX:"))
                 and not any(f in a for f in _CDS_FLAGS)]
        atexit.register(self.publish, proc, spark.sparkContext, classpath, flags)

    def publish(
        self, proc: subprocess.Popen, sc: SparkContext, classpath: str, flags: list[str]
    ) -> None:
        """Wait for the dumping JVM to exit, then publish its archive if
        the JVM exited cleanly and a ``-Xshare:on`` probe maps it."""
        try:
            if proc.poll() is None and proc.stdin is not None:
                # stop the context first: its accumulator server prints a
                # traceback if the JVM goes away under it
                sc.stop()
                proc.stdin.close()  # the gateway JVM exits on end of input
            code = proc.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            return  # still dumping; a later launch prunes the temp file
        try:
            if code != 0 or not self.tmp.is_file():
                if code == 0:  # the JVM declined to dump
                    self.archive.failed.touch()
                return
            if not self._probe(classpath, flags):
                self.archive.failed.touch()
                return
            self.archive.commit(self.tmp)
            _prune(self.archive.cache, keep=self.archive.key)
        except (OSError, subprocess.SubprocessError):
            pass
        finally:
            with contextlib.suppress(FileNotFoundError):
                self.tmp.unlink()

    def _probe(self, classpath: str, flags: list[str]) -> bool:
        """The archive maps with ``-Xshare:on`` (which fails instead of
        falling back) and the JVM's class path is the one keyed."""
        norm = {os.path.normpath(p) for p in self.archive.classpath}
        if {os.path.normpath(p) for p in classpath.split(os.pathsep)} != norm:
            return False
        probe = [self.archive.java, "-Xshare:on", f"-XX:SharedArchiveFile={self.tmp}", *flags,
                 "-XX:-CreateCoredumpOnCrash", f"-XX:ErrorFile={os.devnull}",
                 "-cp", classpath, "-version"]
        done = subprocess.run(probe, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, cwd=self.archive.cache, timeout=120)
        return done.returncode == 0


@contextlib.contextmanager
def _environ(**values: str):
    """Set environment variables for the block, then restore them."""
    saved = {k: os.environ.get(k) for k in values}
    os.environ.update(values)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
