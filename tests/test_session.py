"""The driver-JVM class archive that ``clif_spark.session.build_session``
keeps: record, dump, map, and the conf-directory rule that turns it off.
No test here uses the shared ``spark`` fixture: the archive applies only
where a fresh driver JVM is launched."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
import time
from pathlib import Path

import pytest

from clif_spark import session

ROOT = Path(__file__).resolve().parents[1]

_PROBE = """
import json
from clif_spark.session import build_session
spark = build_session(master="local[1]", extra_confs={
    "spark.driver.extraJavaOptions": "-Dclif.probe=1"})
jvm = spark._jvm
mf = jvm.java.lang.management.ManagementFactory
hs = mf.getPlatformMXBean(jvm.java.lang.Class.forName(
    "com.sun.management.HotSpotDiagnosticMXBean"))
print(json.dumps({
    "shared": hs.getVMOption("UseSharedSpaces").getValue(),
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
    "rows": [list(r) for r in spark.sql(
        "SELECT id % 3 AS k, count(*) AS n FROM range(100) "
        "GROUP BY 1 ORDER BY 1").collect()]}))
spark.stop()
"""


@pytest.fixture
def template_conf(tmp_path):
    """A conf directory like a stock ``$SPARK_HOME/conf``: templates only."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    return conf


def _probe(env: dict) -> dict:
    out = subprocess.run([sys.executable, "-c", _PROBE], env=env, cwd=ROOT,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_first_session_records_and_the_next_maps_the_archive(
        tmp_path, template_conf):
    """Session 1 records its class list and live classpath; session 2
    dumps a truncated list (500 classes, a few seconds) and maps the
    archive, after the caller's own java options; both give the same
    rows."""
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "cache"),
               SPARK_CONF_DIR=str(template_conf), SPARK_GRAFT_CPUS="1",
               CLIF_SPARK_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])))
    cds = tmp_path / "cache" / "clif_spark" / "cds"

    first = _probe(env)
    (classlist,) = cds.glob("*.classlist")
    base = str(classlist)[:-len(".classlist")]
    assert first["args"].index("-Dclif.probe=1") < first["args"].index(
        f"-XX:DumpLoadedClassList={classlist}")
    rec = json.loads(Path(base + ".cp").read_text())
    assert rec["class.path"].split(os.pathsep)[0].rstrip("/") == str(
        cds / "conf")
    assert stat.S_IMODE(cds.stat().st_mode) == 0o700
    deadline = time.time() + 60
    while session._recording(base) and time.time() < deadline:
        time.sleep(0.2)
    lines = classlist.read_text().splitlines(keepends=True)
    spark_lines = [ln for ln in lines if ln.startswith("org/apache/spark/")]
    assert len(lines) > 5000 and len(spark_lines) > 100
    # with classes from the classpath in it, the archive maps only into a
    # launch whose classpath matches the recorded one
    classlist.write_text("".join(lines[:400] + spark_lines[:100]))

    second = _probe(env)
    assert Path(base + ".jsa").is_file()
    assert not Path(base + ".failed").exists()
    assert second["shared"] == "true"
    assert second["args"].index("-Dclif.probe=1") < second["args"].index(
        f"-XX:SharedArchiveFile={base}.jsa")
    assert second["rows"] == first["rows"] == [[0, 34], [1, 33], [2, 33]]


def test_conf_dir_with_a_real_file_turns_the_archive_off(
        tmp_path, template_conf, monkeypatch):
    """A conf directory that configures something must stay on the
    classpath, so the launch is left as it is: no archive flag, no cache,
    ``os.environ`` untouched."""
    (template_conf / "spark-defaults.conf").write_text(
        "spark.sql.ansi.enabled false\n")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(template_conf))
    before = dict(os.environ)
    assert session._archive_launch("-Dclif.probe=1") is None
    assert dict(os.environ) == before
    assert not (tmp_path / "cache").exists()


def test_archive_steps_without_a_jvm(tmp_path, template_conf, monkeypatch):
    """Step 1 claims the class list for one live recorder, and a list whose
    recorder died before saving its classpath is claimed again. A failed
    dump leaves a marker and is never run again. ``os.environ`` is
    untouched."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(template_conf))
    before = dict(os.environ)

    launch = session._archive_launch("-Dclif.probe=1")
    assert launch.record
    flag = f"-XX:DumpLoadedClassList={launch.base}.classlist"
    assert launch.java_opts == f"-Dclif.probe=1 {flag}"
    assert os.listdir(launch.conf_dir) == []
    recorder = subprocess.Popen(
        [sys.executable, "-c", "import time; time.sleep(60)", flag])
    try:
        assert session._archive_launch(None) is None
    finally:
        recorder.kill()
        recorder.wait(timeout=10)
    assert session._archive_launch(None).record

    # the java that recorded the list cannot dump it
    Path(launch.base + ".cp").write_text(json.dumps({
        "class.path": launch.conf_dir, "home": str(tmp_path / "no-java")}))
    assert session._archive_launch(None) is None
    assert Path(launch.base + ".failed").exists()
    monkeypatch.setattr(session.subprocess, "run", pytest.fail)
    assert session._archive_launch(None) is None
    assert dict(os.environ) == before
