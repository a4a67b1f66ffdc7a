"""Per-iteration Spark runtime figures, read from the driver JVM.

The status store (``sc._jsc.sc().statusStore()``) is filled by the
listener bus even with the UI disabled; jobs and stages are read from it
as JSON in two gateway calls.  Where it cannot be reached, the public
``StatusTracker`` still gives job, stage and task counts for the job
groups the benchmark set.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JError

from spans import busy_time

MB = 1e6


class EvictedError(RuntimeError):
    """The status store dropped jobs or stages of the iteration read."""


class SparkStats:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.cores = self._sc.defaultParallelism
        try:
            jsc = self._sc._jsc.sc()
            self._bus = jsc.listenerBus()
            self._store = jsc.statusStore()
            jvm = self._sc._jvm
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self._mapper.registerModule(
                jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule()
            )
            self._no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
            self._empty = jvm.java.util.ArrayList()
        except Py4JError:
            self._store = None

    def _json(self, obj) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(obj))

    def _jobs(self) -> list[dict]:
        self._bus.waitUntilEmpty()
        return self._json(self._store.jobsList(None))

    def last_job_id(self) -> int:
        if self._store is None:
            return -1
        return max((j["jobId"] for j in self._jobs()), default=-1)

    def iteration(
        self, after_job: int, start: float, end: float, groups: list[str]
    ) -> tuple[dict, list[dict]]:
        """Runtime figures of the jobs submitted after ``after_job``
        between epoch seconds ``start`` and ``end``, and those jobs."""
        if self._store is None:
            return self._tracker_counts(groups), []
        jobs = [j for j in self._jobs() if j["jobId"] > after_job]
        ids = sorted(j["jobId"] for j in jobs)
        if ids and ids != list(range(after_job + 1, ids[-1] + 1)):
            raise EvictedError(f"jobs missing after job {after_job}")
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in self._json(
                self._store.stageList(
                    None, False, False, self._no_quantiles, self._empty
                )
            )
            if s["stageId"] in stage_ids
        ]
        run = [s for s in stages if s["status"] in ("COMPLETE", "FAILED")]
        n_run = sum(j["numCompletedStages"] + j["numFailedStages"] for j in jobs)
        if len({s["stageId"] for s in run}) < n_run:
            raise EvictedError(f"stages missing after job {after_job}")
        wall = end - start
        busy = busy_time(
            [(j["submissionTime"] / 1e3, j["completionTime"] / 1e3) for j in jobs],
            start,
            end,
        )
        exec_run = sum(s["executorRunTime"] for s in run) / 1e3
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(run),
            "spark.stages_skipped": sum(j["numSkippedStages"] for j in jobs),
            "spark.tasks": sum(s["numTasks"] for s in run),
            "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "spark.driver_gap_s": wall - busy,
            "spark.single_task_stage_frac": (
                sum(s["numTasks"] == 1 for s in run) / len(run) if run else 0.0
            ),
            "spark.busy_frac": exec_run / (wall * self.cores),
            "spark.executor_run_s": exec_run,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in run) / 1e9,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in run) / MB,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in run) / MB,
            "spark.spill_mb": sum(s["diskBytesSpilled"] for s in run) / MB,
            "spark.peak_exec_mem_mb": max(
                (s["peakExecutionMemory"] for s in run), default=0
            )
            / MB,
            "spark.input_mb": sum(s["inputBytes"] for s in run) / MB,
            "spark.input_records": sum(s["inputRecords"] for s in run),
        }, jobs

    def _tracker_counts(self, groups: list[str]) -> dict:
        tracker = self._sc.statusTracker()
        job_ids = [i for g in groups for i in tracker.getJobIdsForGroup(g)]
        stage_ids = set()
        for i in job_ids:
            info = tracker.getJobInfo(i)
            if info is not None:
                stage_ids.update(info.stageIds)
        infos = [tracker.getStageInfo(s) for s in stage_ids]
        return {
            "spark.jobs": len(job_ids),
            "spark.stages": sum(i is not None for i in infos),
            "spark.tasks": sum(i.numTasks for i in infos if i is not None),
            "spark.failed_tasks": sum(
                i.numFailedTasks for i in infos if i is not None
            ),
        }
