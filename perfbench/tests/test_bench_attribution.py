"""Job attribution against a real Spark event log (starts a local
session, ~15 s)."""

import threading

import pytest

import spans


@pytest.fixture(scope="module")
def traced_session(tmp_path_factory):
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (SparkSession.builder.master("local[2]").appName("attribution")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{log_dir}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    spark.range(10).collect()
    tracer = spans.Tracer()
    with tracer.span("one_job"):
        spark.range(100).collect()
    with tracer.span("outer"):
        with tracer.span("inner"):
            spark.range(100).collect()

        def helper():
            spark.range(100).collect()

        t = threading.Thread(target=helper)
        t.start()
        t.join()
    spark.stop()
    jobs = spans.read_event_log(str(log_dir))
    orphans = spans.attribute(tracer, jobs)
    return tracer, jobs, orphans


def _by_name(tracer):
    return {s.name: s for s in tracer.walk()}


def test_a_one_job_call_is_attributed_one_job(traced_session):
    tracer, jobs, orphans = traced_session
    span = _by_name(tracer)["one_job"]
    assert len(span.jobs) == 1
    job = span.jobs[0]
    assert span.start <= job.submitted <= job.completed <= span.end + 0.01
    assert job.stages >= 1 and job.tasks >= 1
    assert [j.job_id for j in orphans] == [jobs[0].job_id]


def test_nested_and_helper_thread_jobs(traced_session):
    tracer, _, _ = traced_session
    named = _by_name(tracer)
    assert len(named["inner"].jobs) == 1
    # The helper thread's job carries no job group; its submission
    # window still places it in the span that started the thread.
    assert len(named["outer"].jobs) == 1
    assert len(spans.subtree_jobs(named["outer"])) == 2
    assert 0 <= spans.driver_idle(named["outer"]) < named["outer"].wall
