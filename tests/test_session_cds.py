"""The session factory's class-data-sharing archive: key, validation,
when a launch stays plain, and an end-to-end mark-dump-map check in
three fresh processes."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from dataintegration_csvprovider_spark import session
from dataintegration_csvprovider_spark.session import (
    _DYNAMIC_MAGIC,
    _environ,
    _fingerprint,
    _plan_launch,
    _usable,
)

REPO = Path(__file__).resolve().parent.parent


def _fake_jdk(root: Path, version: str) -> str:
    for rel in ("bin/java", "lib/modules", "lib/server/libjvm.so"):
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text(version)
    return str(root / "bin" / "java")


@pytest.fixture
def env(tmp_path) -> dict[str, str]:
    """An environment whose cache lives under ``tmp_path``; the JDK and
    Spark are the real ones, nothing is launched."""
    out = {k: v for k, v in os.environ.items()
           if k not in session._JAVA_OPTION_VARS + session._CLASSPATH_VARS
           and k not in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT")}
    out["XDG_CACHE_HOME"] = str(tmp_path / "xdg")
    return out


def _cache(env) -> Path:
    return Path(env["XDG_CACHE_HOME"]) / "spark-graft"


def _dumping(extra_conf, memory, env):
    """The dump launch for a key; the first launch only marks it."""
    assert _plan_launch(extra_conf, memory, env) is None
    launch = _plan_launch(extra_conf, memory, env)
    assert launch.dump is not None
    return launch


def _marked(env) -> list[str]:
    return sorted(p.name for p in _cache(env).glob("*.seen"))


def _publish_fake(launch, body: bytes = _DYNAMIC_MAGIC + b"\0" * 4096) -> Path:
    """Commit a stand-in archive through the engine's own publish step."""
    dump = launch.dump
    dump.tmp.write_bytes(body)
    dump.archive.commit(dump.tmp)
    return dump.archive.path


def test_fingerprint_tracks_jar_size_mtime_and_jdk(tmp_path):
    java = _fake_jdk(tmp_path / "jdk-a", "17.0.1")
    jar = tmp_path / "jars" / "x.jar"
    jar.parent.mkdir()
    jar.write_bytes(b"1234")
    classpath = [str(tmp_path / "conf"), str(jar)]
    base = _fingerprint(java, classpath)
    assert _fingerprint(java, classpath) == base

    jar.write_bytes(b"12345")  # size
    os.utime(jar, ns=(1_000_000_000, 1_000_000_000))
    sized = _fingerprint(java, classpath)
    assert sized != base
    os.utime(jar, ns=(2_000_000_000, 2_000_000_000))  # mtime only
    assert _fingerprint(java, classpath) != sized

    other = _fake_jdk(tmp_path / "jdk-b", "17.0.1")  # another JDK install
    assert _fingerprint(other, classpath) != _fingerprint(java, classpath)
    libjvm = tmp_path / "jdk-a" / "lib" / "server" / "libjvm.so"
    before = _fingerprint(java, classpath)
    libjvm.write_text("17.0.20")  # the same JDK path, updated in place
    assert _fingerprint(java, classpath) != before
    assert _fingerprint(java, classpath, coops=False) != _fingerprint(java, classpath)


def test_caller_xx_flags_change_the_variant_only(tmp_path, env):
    """A flag that changes the archive layout must not share a key with
    archives dumped without it: the JVM would refuse the archive, CDS
    warnings are off, and the engine would never dump again."""
    java = _fake_jdk(tmp_path / "jdk", "17")
    base = _fingerprint(java, [])
    for flags in (["-XX:-UseCompressedOops"], ["-XX:ObjectAlignmentInBytes=16"]):
        other = _fingerprint(java, [], flags=flags)
        assert other != base and other.split("-")[0] == base.split("-")[0]

    _plan_launch({}, "2g", env)
    _plan_launch({"spark.driver.extraJavaOptions": "-Dgraft.probe=1"}, "2g", env)
    assert len(_marked(env)) == 1  # -D properties do not change the key
    _plan_launch({"spark.driver.extraJavaOptions": "-XX:ObjectAlignmentInBytes=16"}, "2g", env)
    _plan_launch({}, "2g", {**env, "JAVA_TOOL_OPTIONS": "-XX:-UseCompressedOops"})
    assert len(_marked(env)) == 3


def test_fingerprint_ignores_conf_dir_mtime(tmp_path):
    java = _fake_jdk(tmp_path / "jdk", "17")
    conf = tmp_path / "conf"
    conf.mkdir()
    before = _fingerprint(java, [str(conf)])
    os.utime(conf, ns=(5_000_000_000, 5_000_000_000))
    assert _fingerprint(java, [str(conf)]) == before


def test_first_launch_marks_second_dumps_third_maps(env):
    assert _plan_launch({}, "2g", env) is None  # plain: only a mark
    assert len(_marked(env)) == 1 and not list(_cache(env).glob("*.jsa"))
    first = _plan_launch({}, "2g", env)
    assert first.dump is not None and "-XX:ArchiveClassesAtExit=" in first.java_options
    assert "SharedArchiveFile" not in first.java_options
    assert first.conf_dir == str(_cache(env) / "conf")
    assert not any(Path(first.conf_dir).iterdir())
    path = _publish_fake(first)
    second = _plan_launch({}, "2g", env)
    assert second.dump is None
    assert f"-XX:SharedArchiveFile={path} -Xshare:auto" in second.java_options
    assert second.java_options.endswith(session._QUIET)
    # a heap past the compressed-pointer line is another key
    _dumping({}, "40g", env)


@pytest.mark.parametrize("damage", ["truncate", "garbage_same_identity", "garbage_file", "no_manifest"])
def test_damaged_archive_never_reaches_a_jvm(env, damage):
    """``java -Xshare:auto -XX:SharedArchiveFile=<truncated>`` dies with
    SIGBUS instead of falling back, so only the published file maps."""
    launch = _dumping({}, "2g", env)
    path = _publish_fake(launch)
    archive = launch.dump.archive
    if damage == "truncate":
        with open(path, "r+b") as fh:
            fh.truncate(100)
    elif damage == "garbage_same_identity":
        # same size, inode and mtime as recorded, but no archive header
        st = os.stat(path)
        os.chmod(path, 0o600)
        with open(path, "r+b") as fh:
            fh.write(b"\xff" * len(_DYNAMIC_MAGIC))
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
        archive.manifest.write_text(json.dumps(session._identity(os.stat(path))))
    elif damage == "garbage_file":
        path.unlink()
        path.write_bytes(os.urandom(4096))
    else:
        archive.manifest.unlink()
    assert not _usable(archive)
    again = _plan_launch({}, "2g", env)
    assert "SharedArchiveFile" not in again.java_options
    assert again.dump is not None


def test_conf_dir_with_a_real_file_gives_plain_launch(env, tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    env["SPARK_CONF_DIR"] = str(conf)
    _dumping({}, "2g", env)  # templates only
    (conf / "spark-defaults.conf").write_text("spark.foo 1\n")
    assert _plan_launch({}, "2g", env) is None

    before = os.environ.get("SPARK_CONF_DIR")
    with _environ(SPARK_CONF_DIR="/elsewhere"):
        assert os.environ["SPARK_CONF_DIR"] == "/elsewhere"
    assert os.environ.get("SPARK_CONF_DIR") == before


def test_caller_java_options_are_kept(env):
    launch = _dumping({"spark.driver.extraJavaOptions": "-Dgraft.probe=1"}, "2g", env)
    assert launch.java_options.startswith("-Dgraft.probe=1 -XX:ArchiveClassesAtExit=")


@pytest.mark.parametrize("options", [
    "-Xshare:off", "-XX:SharedArchiveFile=/x.jsa", "-Dx=1 -XX:ArchiveClassesAtExit=/y.jsa",
])
def test_caller_cds_flags_give_plain_launch(env, options):
    assert _plan_launch({"spark.driver.extraJavaOptions": options}, "2g", env) is None
    assert _plan_launch({}, "2g", {**env, "JAVA_TOOL_OPTIONS": options}) is None
    assert not _marked(env)  # plain for the flags, not as a first launch


def test_custom_classpath_or_submit_args_give_plain_launch(env):
    assert _plan_launch({"spark.driver.extraClassPath": "/x.jar"}, "2g", env) is None
    assert _plan_launch({}, "2g", {**env, "HADOOP_CONF_DIR": "/etc/hadoop"}) is None
    assert _plan_launch({}, "2g", {**env, "PYSPARK_SUBMIT_ARGS": "--jars x.jar pyspark-shell"}) is None
    assert _plan_launch({}, "2g", {**env, "PYSPARK_GATEWAY_PORT": "4040"}) is None
    assert not _marked(env)


@pytest.mark.parametrize("mode", [0o755, 0o500, 0o770])
def test_cache_dir_not_private_gives_plain_launch(env, mode):
    cache = _cache(env)
    cache.mkdir(parents=True)
    os.chmod(cache, mode)
    try:
        assert _plan_launch({}, "2g", env) is None
        assert not _marked(env)
    finally:
        os.chmod(cache, 0o700)


@pytest.mark.skipif(os.getuid() != 0, reason="chown to another user needs root")
def test_cache_dir_owned_by_another_user_gives_plain_launch(env):
    cache = _cache(env)
    cache.mkdir(parents=True, mode=0o700)
    os.chown(cache, 12345, 12345)
    assert _plan_launch({}, "2g", env) is None
    assert not _marked(env)


def test_failed_dump_is_not_retried_at_once(env):
    launch = _dumping({}, "2g", env)
    launch.dump.archive.failed.touch()
    assert _plan_launch({}, "2g", env) is None


def test_prune_keeps_only_current_install_and_live_temp_files(env):
    """Another JDK or jar set is gone for good; another heap side or
    flag set of the same install stays, so alternating callers do not
    delete each other's archive."""
    launch = _dumping({}, "2g", env)
    cache, key = _cache(env), launch.dump.archive.key
    sibling = key.split("-")[0] + "-0000beef"
    names = [f"{key}.jsa", f"{key}.json", f"{sibling}.jsa", f"{sibling}.json",
             "0ld-1234.jsa", "0ld-1234.json", "0ld-1234.failed", "0ld-1234.seen",
             f"0ld-1234.{os.getpid()}-ab.tmp", "0ld-1234.999999999-cd.tmp"]
    for n in names:
        (cache / n).write_text("")
    session._prune(cache, keep=key)
    left = sorted(p.name for p in cache.iterdir())
    assert left == sorted(["conf", f"{key}.seen", f"{key}.jsa", f"{key}.json",
                           f"{sibling}.jsa", f"{sibling}.json", f"0ld-1234.{os.getpid()}-ab.tmp"])


CHILD = """
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark import SparkContext
from dataintegration_csvprovider_spark.session import get_spark
spark = get_spark(app_name="cds-test")
assert spark.range(100).selectExpr("sum(id)").collect()[0][0] == 4950
acc = spark.sparkContext.accumulator(0)  # connects the accumulator server
spark.sparkContext.parallelize(range(10), 2).foreach(lambda x: acc.add(x))
assert acc.value == 45
jvm = spark.sparkContext._jvm
with open(f"/proc/{{SparkContext._gateway.proc.pid}}/maps") as fh:
    maps = sorted({{line.split()[-1] for line in fh if line.rstrip().endswith(".jsa")}})
print(json.dumps({{"maps": maps,
                  "classpath": jvm.java.lang.System.getProperty("java.class.path"),
                  "conf_dir": os.environ.get("SPARK_CONF_DIR")}}))
"""


@pytest.mark.skipif(not Path("/proc/self/maps").exists(), reason="reads /proc/<pid>/maps")
def test_third_process_maps_the_archive_the_second_published(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    env.update(XDG_CACHE_HOME=str(tmp_path / "xdg"), SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_CPUS="2", PYSPARK_SUBMIT_ARGS="pyspark-shell")
    script = tmp_path / "child.py"
    script.write_text(CHILD.format(repo=str(REPO)))
    cache = tmp_path / "xdg" / "spark-graft"

    def run() -> tuple[dict, str]:
        done = subprocess.run([sys.executable, str(script)], env=env, cwd=tmp_path,
                              capture_output=True, text=True, timeout=600)
        assert done.returncode == 0, done.stderr[-2000:]
        return json.loads(done.stdout.strip().splitlines()[-1]), done.stdout + done.stderr

    mark, out0 = run()  # a first launch only leaves a mark
    assert not [m for m in mark["maps"] if m.startswith(str(cache))]
    assert not list(cache.glob("*.jsa"))
    assert len(list(cache.glob("*.seen"))) == 1

    first, out1 = run()
    archives = sorted(cache.glob("*.jsa"))
    assert len(archives) == 1, sorted(p.name for p in cache.iterdir())
    assert str(archives[0]) not in first["maps"]
    assert not list(cache.glob("*.tmp"))
    assert first["conf_dir"] is None  # the launch's conf dir is not left set

    second, out2 = run()
    assert str(archives[0]) in second["maps"]
    # no CDS warning, and no traceback from the exit hook, reaches the
    # terminal in any mode
    for out in (out0, out1, out2):
        assert "[cds" not in out and "shared archive" not in out.lower()
        assert "Traceback" not in out

    # the publish-time probe rejects a truncated copy (a JVM handed it
    # dies with SIGBUS instead of falling back)
    classpath = tuple(second["classpath"].split(os.pathsep))
    archive = session._Archive(cache, "probe", session._java(os.environ), classpath)
    flags = ["-Xmx1g"]
    whole = cache / "probe.1-a.tmp"
    shutil.copyfile(archives[0], whole)
    assert session._Dump(archive, whole)._probe(second["classpath"], flags)
    cut = cache / "probe.1-b.tmp"
    with open(archives[0], "rb") as src, open(cut, "wb") as dst:
        dst.write(src.read(os.path.getsize(archives[0]) // 3))
    assert not session._Dump(archive, cut)._probe(second["classpath"], flags)
