"""The interface every benchmark workload implements."""

from __future__ import annotations


class Workload:
    """One seeded workload. The harness calls, in order: ``generate`` and
    ``reference`` once, ``stage`` once per set-up round, ``warm_up``, then
    ``before_job`` (untimed) and ``run_job`` (timed) in a closed loop, then
    ``finish``. Every input is derived from ``seed`` alone; why a workload
    exists is in its module docstring.
    """

    # the input properties this workload varies, recorded with each result
    properties: dict = {}
    # measured jobs per run: at least min_jobs, then more while the next
    # job is expected to end before the clock runs out, but never more
    # than max_jobs (None: no cap). ``job_cpu_s`` is the median of the
    # first min_jobs; wall times cover every measured job.
    min_jobs = 5
    max_jobs = None
    # untimed jobs before the first measured one, so the JIT has compiled
    # the query path's hot code (the first jobs of a run drift down)
    warm_up_jobs = 3
    # workloads (by name) whose checked jobs and layers ride along in a
    # traced run of this one
    companions: tuple[str, ...] = ()
    # as a companion: how many checked jobs it runs, and the prefixes of
    # the SQL layer metrics its own executions supply (median over jobs)
    companion_jobs = 1
    companion_layers: tuple[str, ...] = ()

    def __init__(self, seed: int):
        self.seed = seed

    def generate(self) -> None:
        raise NotImplementedError

    def stage(self, spark, root: str) -> None:
        raise NotImplementedError

    def reference(self) -> None:
        raise NotImplementedError

    def warm_up(self, spark, tracer) -> None:
        for _ in range(self.warm_up_jobs):
            self.before_job(spark)
            spark.catalog.clearCache()
            self.run_job(spark, tracer)

    def prepare_companion(self, spark) -> None:
        """Untimed state a companion needs before its first checked job."""

    def before_job(self, spark) -> None:
        """Untimed preparation for the next ``run_job``."""

    def run_job(self, spark, tracer) -> tuple[int, list[str]]:
        """One closed-loop run; returns (output rows, failed checks)."""
        raise NotImplementedError

    def finish(self, spark) -> list[str]:
        """End-of-run checks; returns the failed ones."""
        return []

    def prefix_chains(self, spark) -> list[list[tuple[str, object]]]:
        """Cumulative prefixes of each output chain, as (layer, DataFrame);
        a layer's run time is the added time of its prefix's noop action."""
        return []

    def kernel_inputs(self) -> dict:
        """Inputs for the in-process kernel timings: ``captions`` (a pandas
        Series) and ``images`` (list of (bytes, fmt))."""
        return {}

    def trace_extras(self, spark, tracer) -> dict[str, float]:
        """Workload-specific per-layer numbers from a traced run."""
        return {}
