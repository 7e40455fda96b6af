"""Per-layer spans for the traced benchmark run, taken from outside the program.

The benchmark wraps the layer functions where ``alligator_spark.plans.pipeline``
looks them up, plus ``CheckpointManager``'s lineage scan and reads. Each wrapper
closes the open span, opens one for its layer and sets a Spark job group named
after the layer. The group stays set until the next layer begins: Spark runs a
layer's lazy work at the next action, usually the stage commit right after the
call, so that work lands in the layer that built it. After each iteration,
Spark's status store gives every layer's jobs, stages, task time, shuffle writes
and spill. No program code changes; a wrapped name that a refactor removed is
skipped and listed in ``missing``.
"""

from __future__ import annotations

import functools
import time

LAYERS = (
    "normalize",
    "blocking",
    "pairs",
    "scoring",
    "rerank",
    "accept",
    "clustering",
    "output",
    "tables",
)

# pipeline-module name -> layer that owns its work
PIPELINE_FUNCS = {
    "normalize_docs": "normalize",
    "minhash_signatures": "blocking",
    "block_keys": "blocking",
    "candidate_pairs": "pairs",
    "exact_mention_pairs": "pairs",
    "fuzzy_rescue_pairs": "pairs",
    "score_pairs": "scoring",
    "rerank_edges": "rerank",
    "strong_components": "clustering",
    "accept_edges": "accept",
    "components_from_strong": "clustering",
    "cea_topk": "output",
    "cta_winners": "output",
    "mention_token_keys": "output",
    "cpa_winners": "output",
}
TABLE_METHODS = ("committed", "read", "_write_lineage")

STAGE_METRICS = (
    "jobs",
    "stages",
    "task_cpu_s",
    "task_run_s",
    "shuffle_write_mb",
    "spill_mb",
)
# counts read from the returned tables; 0 on a workload that does not run them
DOMAIN_COUNTS = [
    "pairs.candidates",
    "pairs.gold_recall",
    "pairs.per_gold_pair",
    "scoring.edges",
    "accept.accepted_edges",
    "clustering.components",
    "clustering.cc_rounds",
    "tables.bytes_committed_mb",
]
STREAM_COUNTS = [
    "streaming.index_s",
    "streaming.plan_ms",
    "streaming.add_batch_ms",
    "streaming.wal_ms",
    "streaming.state_rows",
    "streaming.edges_per_arrival",
]
UNATTRIBUTED = "unattributed"
_MB = 1024.0 * 1024.0


def empty_stage_totals() -> dict:
    return {k: 0.0 for k in STAGE_METRICS} | {"failed_tasks": 0.0}


def wait_for_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status store holds the jobs that just finished."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001


def stage_totals_by_group(spark, accept_group) -> dict[str, dict]:
    """Sum status-store stage metrics per job group.

    ``accept_group(group) -> key or None`` selects jobs and names the bucket
    their stages go to. A stage listed by several jobs (reused shuffle output)
    counts once, under the first job that lists it. Only stages that ran
    (complete or failed) count."""
    wait_for_listeners(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    jobs = store.jobsList(None)
    selected = []
    totals: dict[str, dict] = {}
    for i in range(jobs.length()):
        job = jobs.apply(i)
        group = job.jobGroup()
        key = accept_group(group.get() if group.isDefined() else None)
        if key is None:
            continue
        t = totals.setdefault(key, empty_stage_totals())
        t["jobs"] += 1
        t["failed_tasks"] += job.numFailedTasks()
        ids = job.stageIds()
        selected.append((job.jobId(), key, [ids.apply(j) for j in range(ids.length())]))
    owner: dict[int, str] = {}
    for _, key, ids in sorted(selected, key=lambda s: s[0]):
        for sid in ids:
            owner.setdefault(sid, key)
    if not owner:
        return totals
    jvm = sc._jvm  # noqa: SLF001
    stages = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),  # noqa: SLF001
        jvm.java.util.ArrayList(),
    )
    for i in range(stages.size()):
        st = stages.apply(i)
        key = owner.get(st.stageId())
        if key is None or str(st.status()) not in ("COMPLETE", "FAILED"):
            continue
        t = totals[key]
        t["stages"] += 1
        t["task_run_s"] += st.executorRunTime() / 1e3
        t["task_cpu_s"] += st.executorCpuTime() / 1e9
        t["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
        t["spill_mb"] += st.memoryBytesSpilled() / _MB
    return totals


class LayerTracer:
    """Spans and job groups around the pipeline's layer functions."""

    def __init__(self, spark):
        self.spark = spark
        self.missing: list[str] = []
        self.cc_stats: dict = {}
        self._tag = ""
        self._iteration = 0
        self._layer: str | None = None
        self._since = 0.0
        self.walls: dict[str, float] = {}

    # ------------------------------------------------------------ wrapping

    def install(self) -> None:
        import alligator_spark.plans.pipeline as pipeline
        from alligator_spark.sources.tables import CheckpointManager

        for name, layer in PIPELINE_FUNCS.items():
            self._wrap(pipeline, name, layer)
        for name in TABLE_METHODS:
            self._wrap(CheckpointManager, name, "tables")

    def _wrap(self, owner, name: str, layer: str) -> None:
        original = getattr(owner, name, None)
        if original is None:
            self.missing.append(f"{owner.__name__}.{name}")
            return
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            tracer.enter(layer)
            if name == "components_from_strong" and kwargs.get("stats") is None:
                tracer.cc_stats = kwargs["stats"] = {}
            return original(*args, **kwargs)

        setattr(owner, name, wrapper)

    # --------------------------------------------------------------- spans

    def begin_iteration(self) -> None:
        self._iteration += 1
        self._tag = f"bench-it{self._iteration}/"
        self.walls = {}
        self.cc_stats = {}

    def start(self) -> None:
        """Open a timed section; time before the first layer call is
        unattributed."""
        self._layer = None
        self.enter(UNATTRIBUTED)

    def _close_span(self) -> float:
        now = time.perf_counter()
        if self._layer is not None:
            self.walls[self._layer] = self.walls.get(self._layer, 0.0) + now - self._since
        return now

    def enter(self, layer: str) -> None:
        self._since = self._close_span()
        self._layer = layer
        self.spark.sparkContext.setJobGroup(self._tag + layer, layer)

    def stop(self) -> None:
        """Close the timed section; later jobs (checks) go to no layer."""
        self._close_span()
        self._layer = None
        self.spark.sparkContext.setJobGroup("bench-untimed", "untimed")

    def iteration_totals(self, extra_groups: dict | None = None) -> dict[str, dict]:
        """Status-store totals of this iteration, per layer. ``extra_groups``
        maps job groups the benchmark did not set (a streaming query's run
        id) to the span they belong to."""
        tag = self._tag
        extra = extra_groups or {}

        def accept(group):
            if group in extra:
                return extra[group]
            if group is None or not group.startswith(tag):
                return None
            return group[len(tag):]

        return stage_totals_by_group(self.spark, accept)
