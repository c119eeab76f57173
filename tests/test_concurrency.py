"""Jobs run from ``overlap_jobs`` worker threads keep the caller's labels."""

from __future__ import annotations

from urban_traffic_data_lake_project_spark.functions.concurrency import overlap_jobs

_LABEL_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def test_overlap_jobs_keep_caller_job_group(spark):
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    group = "overlap-jobs-label-test"
    sc.setJobGroup(group, "overlap_jobs label test")
    try:
        first = jsc.dagScheduler().nextJobId()
        overlap_jobs(lambda: spark.range(10).collect(), lambda: spark.range(20).collect())
        last = jsc.dagScheduler().nextJobId()
    finally:
        for prop in _LABEL_PROPS:
            sc.setLocalProperty(prop, None)
    jsc.listenerBus().waitUntilEmpty()

    submitted = set(range(first, last))
    assert len(submitted) >= 2
    # every job the two worker threads submitted carries the caller's group
    assert submitted <= set(sc.statusTracker().getJobIdsForGroup(group))
