"""Spark work counters read from the driver's ``AppStatusStore``.

Job ids are handed out by the DAG scheduler synchronously in the thread
that submits the job, so the scheduler's next-job-id counter read before
and after a region brackets exactly the jobs that region submitted, from
any thread. Their stages' task metrics then come from the status store,
serialized to JSON in the JVM (one py4j round trip per listing).

Every completed, non-skipped stage attempt is charged to the lowest job
id that lists it: a shuffle map stage shared by several jobs runs once,
in the first job that needs it. The session must keep enough history
(``spark.ui.retainedJobs`` / ``spark.ui.retainedStages``) that a region's
jobs are still listed when it is read; ``RETENTION_CONF`` is that
setting.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, fields

RETENTION_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
}


@dataclass
class Work:
    spark_jobs: int = 0
    spark_tasks: int = 0
    input_records: int = 0
    shuffle_records: int = 0
    output_records: int = 0
    output_bytes: int = 0

    def add(self, other: "Work") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))

    def as_dict(self) -> dict[str, int]:
        return {f.name: getattr(self, f.name) for f in fields(self)}


def _stage_work(st: dict) -> Work:
    return Work(
        spark_tasks=int(st.get("numCompleteTasks") or 0),
        input_records=int(st.get("inputRecords") or 0),
        # records moved through the shuffle, counted once on the write side
        shuffle_records=int(st.get("shuffleWriteRecords") or 0),
        output_records=int(st.get("outputRecords") or 0),
        output_bytes=int(st.get("outputBytes") or 0),
    )


class StatusReader:
    """Reads job/stage listings of one SparkSession's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        self._gateway = spark.sparkContext._gateway
        self._store = self._sc.statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        mapper.registerModule(scala_module)
        self._mapper = mapper

    def next_job_id(self) -> int:
        """Id the next submitted job will get (jobs below it exist)."""
        # py4j hands the AtomicInteger over as a plain number
        return int(self._sc.dagScheduler().nextJobId())

    def settle(self) -> None:
        """Wait until every posted scheduler event reached the store."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        # Spark 4.1: stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus)
        no_quantiles = self._gateway.new_array(self._gateway.jvm.double, 0)
        listing = self._store.stageList(None, False, False, no_quantiles, None)
        return json.loads(self._mapper.writeValueAsString(listing))

    def job_tags(self, first: int, end: int) -> dict[int, list[str]]:
        """Job tags of every job with ``first <= id < end``, by job id."""
        self.settle()
        return {
            int(j["jobId"]): list(j.get("jobTags") or ())
            for j in self.jobs()
            if first <= int(j["jobId"]) < end
        }

    def per_job(self, first: int, end: int) -> dict[int, Work]:
        """Work of every job with ``first <= id < end``, by job id."""
        if end <= first:
            return {}
        self.settle()
        owner: dict[int, int] = {}
        out: dict[int, Work] = {}
        for job in self.jobs():
            jid = int(job["jobId"])
            for sid in job.get("stageIds") or ():
                owner[sid] = min(jid, owner.get(sid, jid))
            if first <= jid < end:
                out[jid] = Work(spark_jobs=1)
        if not out:
            return out
        for st in self.stages():
            if st.get("status") != "COMPLETE":
                continue  # skipped (reused shuffle), failed or still running
            jid = owner.get(int(st["stageId"]))
            if jid in out:
                out[jid].add(_stage_work(st))
        return out

    def between(self, first: int, end: int) -> Work:
        """Total work of the jobs submitted in ``[first, end)``."""
        total = Work()
        for w in self.per_job(first, end).values():
            total.add(w)
        return total
