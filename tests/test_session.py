"""`lakota_spark.session` — JVM<->Python traffic runs over Unix domain
sockets, in a socket dir whose paths fit the AF_UNIX limit."""

import os
import subprocess
import sys
import tempfile

from pyspark.accumulators import AccumulatorUnixServer

from lakota_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ON = "spark.python.unix.domain.socket.enabled"
DIR = "spark.python.unix.domain.socket.dir"


def _sock_path_len(d):
    return len(os.path.join(d, ".00000000-0000-0000-0000-000000000000.sock"))


def test_uds_conf_picks_a_dir_that_fits(monkeypatch, tmp_path):
    # a socket path is dir + "/." + 36-char uuid + ".sock": 43 bytes
    fits = "/" + "a" * 63
    too_long = "/" + "a" * 64
    assert _sock_path_len(fits) == session.AF_UNIX_PATH_MAX
    assert _sock_path_len(too_long) == session.AF_UNIX_PATH_MAX + 1

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert session.uds_conf() == {ON: "true", DIR: str(tmp_path)}
    monkeypatch.setattr(tempfile, "tempdir", fits)
    assert session.uds_conf() == {ON: "true", DIR: fits}
    monkeypatch.setattr(tempfile, "tempdir", too_long)
    assert session.uds_conf() == {ON: "true", DIR: "/tmp"}
    # neither the tmpdir nor /tmp fits: stay on TCP
    monkeypatch.setattr(session, "AF_UNIX_PATH_MAX", _sock_path_len("/tmp") - 1)
    assert session.uds_conf() == {}


def test_uds_conf_explicit_keys_win(monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", "/" + "a" * 80)
    assert session.uds_conf({ON: "false", "spark.x": "1"}) == {
        ON: "false",
        DIR: "/tmp",
    }
    assert session.uds_conf({DIR: "/sockets"}) == {ON: "true", DIR: "/sockets"}
    monkeypatch.setattr(session, "AF_UNIX_PATH_MAX", 0)
    assert session.uds_conf({ON: "true"}) == {ON: "true"}


def test_session_runs_python_over_unix_sockets(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get(ON) == "true"
    assert conf.get(DIR) == session.uds_conf()[DIR]
    assert isinstance(spark.sparkContext._accumulatorServer, AccumulatorUnixServer)


_LONG_TMP_CHILD = """
import os, sys, tempfile
import pyarrow as pa
from lakota_spark.session import get_spark

tmp = os.environ["TMPDIR"]
spark = get_spark(
    "long-tmpdir", extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
)
jvm_tmp = spark.sparkContext._jvm.java.lang.System.getProperty("java.io.tmpdir")
assert tempfile.gettempdir() == jvm_tmp == tmp, (tempfile.gettempdir(), jvm_tmp)

def double(it):
    for b in it:
        yield pa.RecordBatch.from_pydict({"id": pa.compute.multiply(b.column(0), 2)})

rows = spark.range(0, 3, 1, 1).mapInArrow(double, "id long").collect()
pdf = spark.range(3).toPandas()
conf = spark.sparkContext.getConf()
print(conf.get("spark.python.unix.domain.socket.dir"), [r.id for r in rows], pdf.id.tolist())
spark.stop()
"""


def test_session_starts_under_a_long_tmpdir(tmp_path):
    """A 90-character TMPDIR and java.io.tmpdir are too long for a socket
    path, so the sockets go to /tmp and the session still runs Python
    tasks and Arrow transfers."""
    tmp = str(tmp_path / "t")
    tmp += "x" * max(0, 90 - len(tmp))
    os.makedirs(tmp)
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS="1",
        SPARK_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(
            [REPO] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
    )
    out = subprocess.run(
        [sys.executable, "-c", _LONG_TMP_CHILD],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "/tmp [0, 2, 4] [0, 1, 2]"
