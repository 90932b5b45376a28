"""Self-tests that need a Spark session: the ledger on a known query and
the generator's ground truth through the real ``incremental_load``."""

import os

from perfbench.cdcgen import CdcCorpus
from perfbench.ledger import SparkLedger, Tracer
from perfbench.model import TableModel, event_tuple, same_rows, tracking_tuple


def test_ledger_job_count_on_a_known_query(spark):
    tracer = Tracer()
    tracer.ledger = SparkLedger(spark)
    tracer.ledger.poll()  # skip jobs of earlier tests
    with tracer.op_span("count", "op") as sp:
        assert spark.sparkContext.parallelize(range(100), 3).count() == 100
    cost = tracer.cost(sp)
    assert cost["jobs"] == 1 and sp.attrs["group_jobs"] == 1
    assert cost["tasks"] == 3


def test_ground_truth_through_incremental_load(spark, tmp_path):
    from airflow_postgres_etl_spark.pipeline import incremental_load
    from airflow_postgres_etl_spark.sink import read_keyed_table

    corpus = CdcCorpus(4, 30, 2)
    landing, tr, ev = (str(tmp_path / d) for d in ("landing", "tracking", "events"))
    for _ in range(3):
        truth = corpus.next_cycle(landing)
        got = incremental_load(spark, landing, tr, ev)
        assert got == {"tracking": truth.tracking_rows, "events": truth.event_rows}
    assert incremental_load(spark, landing, tr, ev) == {"tracking": 0, "events": 0}
    model = TableModel(corpus.state)
    same_rows("tracking", [tracking_tuple(r) for r in read_keyed_table(spark, tr).collect()],
              model.tracking_rows())
    same_rows("events", [event_tuple(r) for r in read_keyed_table(spark, ev).collect()],
              model.event_rows())
    assert len(os.listdir(landing)) == 6
