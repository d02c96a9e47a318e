"""Session settings: the package's SQL, row-group and split-size defaults
apply only where nothing pinned a value, a live write still lands in several
row groups, and the package reads no environment knobs beyond the three its
docs name."""

from __future__ import annotations

import ast
import pathlib

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import docling_service_spark
import docling_service_spark.sparkio.session as sess

STOCK_SPLIT = "134217728b"  # Spark's maxPartitionBytes default, as conf.get reports it


class _FakeConf:
    def __init__(self, values: dict):
        self.values = dict(values)

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value


class _FakeBuilder:
    def __init__(self, conf: _FakeConf):
        self.session = type("FakeSession", (), {"conf": conf})()
        self.configured: dict = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.configured[key] = value
        return self

    def getOrCreate(self):
        # As in Spark: a builder config overrides a spark-submit --conf.
        self.session.conf.values.update(self.configured)
        return self.session


@pytest.mark.parametrize("pinned", [
    {"spark.hadoop.parquet.block.size": "134217728",
     "spark.sql.files.maxPartitionBytes": "16m",
     "spark.sql.execution.arrow.maxRecordsPerBatch": "1024"},
    {"parquet.block.size": "8388608",
     "spark.sql.files.maxPartitionBytes": "16m",
     "spark.sql.execution.arrow.maxRecordsPerBatch": "1024"},
], ids=["spark_hadoop_key", "plain_key"])
def test_pinned_layout_conf_survives_get_spark(monkeypatch, pinned):
    # A spark-submit --conf lands in the session conf before get_spark runs.
    builder = _FakeBuilder(_FakeConf(pinned))
    monkeypatch.setattr(sess.SparkSession, "builder", builder)
    spark = sess.get_spark("local[2]")
    assert spark.conf.values == {**builder.configured, **sess._SQL_DEFAULTS, **pinned}


def test_unpinned_layout_conf_gets_package_defaults(monkeypatch):
    builder = _FakeBuilder(_FakeConf({"spark.sql.files.maxPartitionBytes": STOCK_SPLIT}))
    monkeypatch.setattr(sess.SparkSession, "builder", builder)
    conf = sess.get_spark("local[2]").conf.values
    assert conf["parquet.block.size"] == str(4 * 1024 * 1024)
    assert conf["spark.sql.files.maxPartitionBytes"] == "4m"
    assert {k: conf[k] for k in sess._SQL_DEFAULTS} == sess._SQL_DEFAULTS


def test_shared_session_writes_several_row_groups(spark, tmp_path):
    # ~11 MiB of incompressible hex in one file: more than one 4 MiB row
    # group, the layout the job-path corpus relies on to split its scan.
    out = str(tmp_path / "rg")
    h = F.col("id").cast("string")
    (spark.range(60000, numPartitions=1)
     .select(F.sha2(h, 256).alias("a"), F.sha2(F.concat(h, F.lit("x")), 512).alias("b"))
     .write.parquet(out))
    files = list(pathlib.Path(out).glob("part-*.parquet"))
    assert len(files) == 1
    assert pq.ParquetFile(files[0]).metadata.num_row_groups > 1


def _env_reads(tree: ast.AST) -> set[str]:
    """Names of every environment variable the module reads; a read whose
    name is not a string literal shows up as ``<dynamic>``, and any other
    use of ``os.environ`` as ``<os.environ>``."""

    def is_environ(node):
        return (isinstance(node, ast.Attribute) and node.attr == "environ"
                and isinstance(node.value, ast.Name) and node.value.id == "os")

    def name_of(node):
        return node.value if isinstance(node, ast.Constant) else "<dynamic>"

    reads, seen = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if is_environ(f.value) and f.attr in ("get", "pop", "setdefault"):
                reads.add(name_of(node.args[0]))
                seen.add(id(f.value))
            elif (f.attr == "getenv" and isinstance(f.value, ast.Name)
                  and f.value.id == "os"):
                reads.add(name_of(node.args[0]))
        elif isinstance(node, ast.Subscript) and is_environ(node.value):
            reads.add(name_of(node.slice))
            seen.add(id(node.value))
        elif (isinstance(node, ast.Compare) and len(node.comparators) == 1
              and isinstance(node.ops[0], (ast.In, ast.NotIn))
              and is_environ(node.comparators[0])):
            reads.add(name_of(node.left))
            seen.add(id(node.comparators[0]))
    for node in ast.walk(tree):
        if is_environ(node) and id(node) not in seen:
            reads.add("<os.environ>")
    return reads


def test_env_knobs_are_exactly_the_documented_three():
    pkg = pathlib.Path(docling_service_spark.__file__).parent
    reads = set()
    for path in sorted(pkg.rglob("*.py")):
        reads |= _env_reads(ast.parse(path.read_text(), filename=str(path)))
    # Set by spark-submit itself; get_spark detects them, nobody tunes them.
    launcher = {"PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS"}
    assert reads - launcher == {"SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS",
                                "SPARK_GRAFT_DRIVER_MEM"}
    assert launcher <= reads
