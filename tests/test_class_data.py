"""The driver JVM's class-data-sharing archive (``session.class_data_plan``
and ``session.publish_archive``).

The decision is pure, so most cases run with no JVM against a fake
``SPARK_HOME``.  One subprocess starts a real JVM with a foreign file at
the archive's name and checks that q6 still returns its checked digest.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

from dataengineer_scripts_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_home(tmp_path, conf=("spark-defaults.conf.template", "log4j2.properties.template")):
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "jars").mkdir()
    for name in conf:
        (home / "conf" / name).write_text("")
    for name in ("spark-core_2.13-4.1.2.jar", "scala-library-2.13.16.jar"):
        (home / "jars" / name).write_bytes(b"PK")
    return str(home)


def _env(tmp_path):
    return {"JAVA_HOME": str(tmp_path / "jdk"), "PATH": os.environ.get("PATH", "")}


def test_templates_only_conf_records_then_maps(tmp_path):
    home, env, cache = _spark_home(tmp_path), _env(tmp_path), str(tmp_path / "cache")
    update, flags = session.class_data_plan(home, env, cache)
    assert update == {"SPARK_CONF_DIR": os.path.join(cache, "conf")}
    part = next(f.split("=", 1)[1] for f in flags if f.startswith("-XX:ArchiveClassesAtExit="))
    assert part.endswith(f".jsa.{os.getpid()}.part")
    # the recording's log goes to a file, never to the job's stdout
    assert "-Xlog:cds*=off" in flags
    assert f"-Xlog:cds*=warning:file={part}.log" in flags

    archive = part.rsplit(".", 2)[0]
    os.makedirs(cache)
    open(archive, "wb").close()
    # a session built after the first one sees its own redirect as unset
    update, flags = session.class_data_plan(home, {**env, **update}, cache)
    assert update == {"SPARK_CONF_DIR": os.path.join(cache, "conf")}
    assert f"-XX:SharedArchiveFile={archive}" in flags
    assert not any(f.startswith("-XX:ArchiveClassesAtExit=") for f in flags)


def test_real_spark_defaults_is_honoured_without_archive(tmp_path):
    home = _spark_home(tmp_path, conf=("spark-defaults.conf", "log4j2.properties.template"))
    assert session.class_data_plan(home, _env(tmp_path), str(tmp_path / "cache")) == ({}, [])


def test_preset_conf_dir_is_left_alone(tmp_path):
    home, cache = _spark_home(tmp_path), str(tmp_path / "cache")
    for key, value in (("SPARK_CONF_DIR", "/etc/spark"), ("HADOOP_CONF_DIR", "/etc/hadoop")):
        env = {**_env(tmp_path), key: value}
        assert session.class_data_plan(home, env, cache) == ({}, [])


def test_unwritable_cache_records_nothing(tmp_path, monkeypatch):
    home, env = _spark_home(tmp_path), _env(tmp_path)
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    assert session.class_data_plan(home, env, str(blocker / "cds")) == ({}, [])
    monkeypatch.setattr(session.os, "access", lambda path, mode: False)
    assert session.class_data_plan(home, env, str(tmp_path / "cache")) == ({}, [])


def test_changed_jar_gives_new_key(tmp_path):
    home, env = _spark_home(tmp_path), _env(tmp_path)
    conf = str(tmp_path / "cache" / "conf")
    before = session.archive_key(home, env, conf)
    assert session.archive_key(home, env, conf) == before
    jar = os.path.join(home, "jars", "scala-library-2.13.16.jar")
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert session.archive_key(home, env, conf) != before


_WRITER = """
import sys, time
sys.stdin.read()  # the JVM writes its recording as it exits
with open(sys.argv[1], "wb") as fh:
    for _ in range(40):
        fh.write(b"x" * 65536)
        fh.flush()
        time.sleep(0.005)
sys.exit(int(sys.argv[2]))
"""


def _recorder(part, status):
    return subprocess.Popen([sys.executable, "-c", _WRITER, part, str(status)], stdin=subprocess.PIPE)


def test_publish_never_shows_a_partial_archive(tmp_path):
    cache = tmp_path / "cds"
    (cache / "conf").mkdir(parents=True)
    archive = str(cache / "k1.jsa")
    stale = [cache / "k0.jsa", cache / "k0.jsa.log", cache / "k1.jsa.999999999.part"]
    for p in stale:
        p.write_bytes(b"old")

    sizes, done = [], threading.Event()

    def watch():
        while not done.is_set():
            if os.path.exists(archive):
                sizes.append(os.path.getsize(archive))
            time.sleep(0.001)

    watcher = threading.Thread(target=watch)
    watcher.start()
    try:
        part = f"{archive}.{os.getpid()}.part"
        assert session.publish_archive(part, archive, _recorder(part, 0))
    finally:
        done.set()
        watcher.join(timeout=10)
    assert not watcher.is_alive()
    assert set(sizes) <= {40 * 65536}
    assert os.path.getsize(archive) == 40 * 65536
    # other keys and dead recordings are pruned; the conf dir stays
    assert sorted(os.listdir(cache)) == ["conf", "k1.jsa"]

    # a JVM that fails (or a missing recording) publishes nothing
    os.remove(archive)
    assert not session.publish_archive(part, archive, _recorder(part, 1))
    assert sorted(os.listdir(cache)) == ["conf"]
    assert not session.publish_archive(part, archive, None)


_Q6 = """
import json, sys
sys.path.insert(0, "perfbench")
from check import digest
from dataengineer_scripts_spark.registry import definitions
from dataengineer_scripts_spark.session import get_spark
spark = get_spark("class-data-test")
df = definitions()["x_tpch_q6_forecast_revenue"].fn(spark, "perfbench/data/sf0.1")
print("DIGEST " + json.dumps(digest(df).as_dict()))
"""


def test_foreign_archive_still_answers_q6(tmp_path):
    from pyspark.find_spark_home import _find_spark_home

    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    env["XDG_CACHE_HOME"] = str(tmp_path)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    cache = os.path.join(str(tmp_path), "spark-graft", "cds")
    key = session.archive_key(_find_spark_home(), env, os.path.join(cache, "conf"))
    archive = os.path.join(cache, key + ".jsa")
    os.makedirs(cache)
    # a CDS archive of another kind, cut short: the JDK's own base archive
    base = os.path.join(env.get("JAVA_HOME") or "", "lib", "server", "classes.jsa")
    with open(archive, "wb") as fh:
        fh.write(open(base, "rb").read(1 << 20) if os.path.isfile(base) else os.urandom(1 << 20))

    out = subprocess.run(
        [sys.executable, "-c", _Q6], cwd=ROOT, env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert not [ln for ln in out.stdout.splitlines() if "[cds" in ln]
    got = json.loads(next(ln for ln in out.stdout.splitlines() if ln.startswith("DIGEST "))[7:])
    with open(os.path.join(ROOT, "perfbench", "expected.json")) as fh:
        want = json.load(fh)["queries"]["x_tpch_q6_forecast_revenue"]
    assert got == {"rows": want["rows"], "digest": want["digest"]}
    # mapping never records: the foreign file is all the cache holds
    assert sorted(os.listdir(cache)) == [key + ".jsa", "conf"]
