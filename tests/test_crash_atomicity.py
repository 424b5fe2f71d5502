"""Crash atomicity of the version-directory commit (loaders.py).

Every non-APPEND load writes its new content once into a fresh version
directory, writes an intent record, points the catalog at the new
locations, and deletes the record. The claim is that a process killed
in ANY of those windows leaves a table that reads wholly old or wholly
new once recovered, and that re-running the load converges. An
in-process exception cannot test that, so a child process (embedded
Hive metastore, so the catalog outlives it) seeds a table, patches one
step of the commit to ``os._exit(137)`` and runs the load; a second
process then recovers and checks the table. The kill points:

* ``write``    — while the version directory is being written;
* ``intent``   — after the intent record, before the first catalog
  change;
* ``between``  — between the two catalog changes of one multi-day
  commit, the external-catalog call that adds its new day
  (``Catalog.add_partitions``) and the one that moves its existing days
  (the table reads half old, half new until recovery);
* ``unlinked`` — after the last catalog change, before the record is
  deleted.

Recovery runs either through ``Writer.recover()`` or through the entry
step of the next load on the table (an APPEND of an unrelated day).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_COMMON = """
import glob, json, os, sys, threading, time
repo, wh, mode, point, recovery = sys.argv[1:6]
sys.path.insert(0, repo)
from datetime import date
from transformers_spark.session import get_spark
from transformers_spark.catalog import Catalog, PartitionKind, PartitionSpec
from transformers_spark.loaders import Writer

spark = get_spark(
    app_name="crash-" + point, hive=True, warehouse_dir=wh,
    master="local[2]", shuffle_partitions=2,
    extra_conf={"spark.ui.enabled": "false", "spark.driver.host": "127.0.0.1"},
)
spark.sparkContext.setLogLevel("ERROR")
cat = Catalog(spark)
writer = Writer(spark, cat)
FQN = "crashproj.crashds.t"
VERSIONS = os.path.join(wh, "crashproj_crashds.db", "_versions", "t")
INTENT = os.path.join(VERSIONS, "intent.json")


def frame(rows):
    if mode == "flat":
        return spark.createDataFrame(rows, "id bigint, v string")
    return spark.createDataFrame(rows, "id bigint, d string").selectExpr(
        "id", "CAST(d AS DATE) AS d")


def load():
    if mode == "flat":
        writer.delete_where(FQN, "id = 2")
    else:
        writer.overwrite_partitions(FQN, {
            date(2024, 1, day): frame([(10 + day, f"2024-01-0{day}")])
            for day in (1, 2, 3)
        })


def ids():
    return sorted(r[0] for r in cat.read(FQN).select("id").collect())


OLD = [1, 2]
NEW = [1] if mode == "flat" else [11, 12, 13]
"""

_CRASH = _COMMON + """
if mode == "flat":
    cat.create_table(FQN, [("id", "bigint"), ("v", "string")])
    writer.append(FQN, frame([(1, "a"), (2, "b")]))
else:
    cat.create_table(FQN, [("id", "bigint"), ("d", "date")],
                     partition=PartitionSpec(PartitionKind.COLUMN_DAY, "d"))
    writer.append(FQN, frame([(1, "2024-01-01"), (2, "2024-01-02")]))
assert ids() == OLD


def die(marker):
    sys.stdout.write(marker + "\\n")
    sys.stdout.flush()
    os._exit(137)


if point == "write":
    # a real kill mid-job: the version's _temporary dir exists, the
    # commit of its files has not run
    from pyspark.sql.readwriter import DataFrameWriter
    original_save = DataFrameWriter.save

    def save(self, path=None, *a, **k):
        threading.Thread(target=original_save, args=(self, path, *a),
                         kwargs=k, daemon=True).start()
        while not os.path.isdir(os.path.join(path, "_temporary")):
            time.sleep(0.001)
        die("KILLED_IN_WRITE " + path)

    DataFrameWriter.save = save
elif point in ("intent", "unlinked"):
    original_apply = Writer._apply

    def apply(self, intent):
        if point == "unlinked":
            original_apply(self, intent)
        assert os.path.exists(INTENT)
        die("KILLED_AT_" + point.upper())

    Writer._apply = apply
else:
    original_add = Catalog.add_partitions

    def add_partitions(self, spark_name, locations):
        original_add(self, spark_name, locations)
        die("KILLED_BETWEEN_SWAPS")

    def set_partition_locations(self, spark_name, locations):
        raise AssertionError("the new day must be added first")

    Catalog.add_partitions = add_partitions
    Catalog.set_partition_locations = set_partition_locations
load()
raise SystemExit("unreachable: the commit should have killed us")
"""

_RECOVER = _COMMON + """
assert os.path.exists(INTENT) == (point != "write"), point
before = ids()
if point == "between":
    assert before == [1, 2, 13], before  # the window really was hit
elif point in ("write", "intent"):
    assert before == OLD, before
else:
    assert before == NEW, before

if recovery == "recover":
    deleted = writer.recover()
    want = OLD if point == "write" else NEW
    assert ids() == want, ids()
    if point == "write":
        assert any(d.startswith(VERSIONS) for d in deleted), deleted
else:
    # any load's entry step rolls the record forward first
    extra = (3, "c") if mode == "flat" else (9, "2024-01-09")
    writer.append(FQN, frame([extra]))
    assert ids() == sorted(NEW + [extra[0]]), ids()
    NEW = sorted(NEW + [extra[0]])
assert not os.path.exists(INTENT)

load()  # the re-run converges
assert ids() == NEW, ids()
writer.recover()
assert writer.recover() == [], "recovery not idempotent"
assert ids() == NEW, ids()
print("RECOVERY_OK")
"""

_ARMS = [
    ("partitioned", "write", "recover"),
    ("partitioned", "intent", "recover"),
    ("partitioned", "between", "entry"),
    ("partitioned", "unlinked", "recover"),
    ("flat", "intent", "entry"),
]


def _run(script: str, tmp_path, *args: str) -> subprocess.CompletedProcess:
    env = dict(os.environ)
    env.pop("TRANSFORMERS_SPARK_HIVE", None)
    return subprocess.run(
        [sys.executable, "-c", script, REPO, str(tmp_path / "warehouse"), *args],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=420,
    )


@pytest.mark.parametrize("mode,point,recovery", _ARMS)
def test_kill_during_commit_then_recover(mode, point, recovery, tmp_path):
    crash = _run(_CRASH, tmp_path, mode, point, recovery)
    assert crash.returncode == 137, (
        f"expected the injected kill (137), got {crash.returncode}\n"
        f"stdout: {crash.stdout[-2000:]}\nstderr: {crash.stderr[-2000:]}"
    )
    assert "KILLED_" in crash.stdout, (
        "the process died before reaching the injection point — it moved; "
        "this arm no longer covers its window"
    )

    rec = _run(_RECOVER, tmp_path, mode, point, recovery)
    assert rec.returncode == 0 and "RECOVERY_OK" in rec.stdout, (
        f"recovery failed (rc={rec.returncode})\n"
        f"stdout: {rec.stdout[-2000:]}\nstderr: {rec.stderr[-3000:]}"
    )
