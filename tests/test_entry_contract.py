"""The query contract of ``__spark_entry__.py``, Spark-free.

``queries()`` and ``oracle_sql()`` expose the operator REGISTRY as it is:
every registered name once, in registry order, mapped to the registered
function and oracle.  No SparkSession is built.
"""

import importlib.util
import os

from xmlstreamprocessor_spark.operators import REGISTRY

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(_REPO, "__spark_entry__.py")
)
spark_entry = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(spark_entry)


def test_queries_are_the_registry_in_order():
    qs = spark_entry.queries()
    assert list(qs) == list(REGISTRY)
    assert all(qs[name] is fn for name, (fn, _) in REGISTRY.items())


def test_oracle_sql_holds_exactly_the_queries_with_an_oracle():
    osql = spark_entry.oracle_sql()
    with_oracle = [name for name, (_, sql) in REGISTRY.items() if sql is not None]
    assert list(osql) == with_oracle
    assert all(osql[name] == REGISTRY[name][1] for name in with_oracle)
