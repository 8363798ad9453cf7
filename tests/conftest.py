import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pdf2doi_spark.session import build_session

    s = build_session(master="local[4]", app_name="pdf2doi_spark-tests",
                      shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def scans(spark):
    """``scans(run)``: ``(partition column, partitions read, files read)``
    of every parquet scan of a partitioned table — the near-dup index's
    ``pq`` (postings) and ``sp`` (sigs), the identifier cache's ``shard``
    — in every SQL query that ``run()`` executes, checkpoints included.
    These are the executed scans' metrics, read back from the session's
    SQL status store, so a plan whose pruning is rewritten away at runtime
    (an AQE-dropped dynamic-pruning filter) cannot pass."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def ids():
        bus.waitUntilEmpty()
        ex = store.executionsList()
        return {ex.apply(i).executionId() for i in range(ex.size())}

    def scans(run) -> list:
        before = ids()
        run()
        out = []
        for eid in sorted(ids() - before):
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                # the table by its partition column (the location is
                # truncated)
                part = re.search(r"\b(pq|sp|shard)#\d+", node.desc())
                if not node.name().startswith("Scan parquet") or not part:
                    continue
                got = {"number of partitions read": 0,
                       "number of files read": 0}
                for m in (node.metrics().apply(j)
                          for j in range(node.metrics().size())):
                    v = values.get(m.accumulatorId())
                    if m.name() in got and v.isDefined():
                        got[m.name()] = int(v.get())
                out.append((part.group(1), *got.values()))
        return out

    return scans
