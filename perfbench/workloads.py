"""The benchmark's workloads. Each is a closed loop with one client in one
process: the next iteration starts when the previous one has finished.

``link_many``: back-to-back 100-doc tables, the reference's own traffic. Each
iteration links one table from a fresh workdir through all four outputs
(``link_s``), then drops the committed stages from ``accepted_edges`` onward
plus the ``_SUCCESS`` marker of ``strong_components`` and times the resume
(``redecide_s``).

``stream_arrivals``: arrivals linked against a prebuilt corpus index by
``streaming_link``, one staged file per trigger (``link_s`` is the median
trigger), then ``reconcile_edges`` over the sink (``redecide_s``).
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import sys
import time
from collections import Counter
from pathlib import Path

LINK_SPEC = {"n_entities": 20, "dups_per_entity": 4, "n_distractors": 20}
LINK_CORPORA = 3
# a tiny table pays the process's cold start (JIT, code generation, Python
# workers) before the first timed iteration
WARMUP_SPEC = {"n_entities": 5, "dups_per_entity": 4, "n_distractors": 5}
RESUME_FROM = "accepted_edges"
PARTIAL_STAGE = "strong_components"
OUTPUTS = ("clusters", "cea", "cta", "cpa")

STREAM_SPEC = {"n_entities": 125, "dups_per_entity": 4, "n_distractors": 125}
STREAM_FILES = 8
# reconcile is a few seconds and noisy: sample it several times per drain
RECONCILE_REPEATS = 3
STREAM_EPOCH_S = 1_790_000_000  # event_ts of the first staged file

# a fixed corpus whose hash pins the generator, whatever the seed
CANARY_SPEC = {"n_entities": 20, "dups_per_entity": 3, "n_distractors": 20, "seed": 42}


class CheckFailed(Exception):
    """An output did not match what the generator's gold says it must be."""


class InputMismatch(Exception):
    """A generated input differs from the one recorded for this seed."""


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ checks


def fingerprint(df) -> str:
    """Order-free hash of a table: sum of per-row xxhash64 (as a decimal, so
    the sum cannot overflow)."""
    from pyspark.sql import functions as F

    total = df.select(
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h")
    ).first()["h"]
    return f"{len(df.columns)}:{total}"


def pairwise_f1(pred: dict, gold: dict) -> float:
    """F1 of same-cluster doc pairs of a partition against gold labels."""
    if pred.keys() != gold.keys():
        raise CheckFailed(
            f"clusters cover {len(pred)} docs, gold has {len(gold)}"
        )

    def pairs(sizes) -> int:
        return sum(n * (n - 1) // 2 for n in sizes)

    tp = pairs(Counter((pred[d], gold[d]) for d in gold).values())
    pp = pairs(Counter(pred.values()).values())
    gp = pairs(Counter(gold.values()).values())
    precision = tp / pp if pp else 1.0
    recall = tp / gp if gp else 1.0
    return 2 * precision * recall / (precision + recall) if tp else 0.0


def edge_f1(pred: set, gold: set) -> float:
    tp = len(pred & gold)
    if not tp:
        return 0.0
    precision, recall = tp / len(pred), tp / len(gold)
    return 2 * precision * recall / (precision + recall)


def cached_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())  # noqa: SLF001


def collect_garbage(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()  # noqa: SLF001


def isolate(spark) -> None:
    """Drop everything an iteration left cached, then collect garbage in the
    JVM and in Python."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):  # noqa: SLF001
        rdd.unpersist(True)
    collect_garbage(spark)


def median(xs) -> float:
    return float(statistics.median(xs))


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants: the
    JVM, its Python daemon and workers. A child that exited counts through
    its parent's cutime/cstime. Time the hypervisor steals is not CPU time,
    so this does not grow when another tenant takes the host's cores."""
    parent, ticks = {}, {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while scanning
        parent[int(entry.name)] = int(fields[1])
        ticks[int(entry.name)] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ inputs


class Inputs:
    """Generated corpora written to parquet, their hashes and gold labels.
    A corpus whose hash is recorded for this seed must match it."""

    def __init__(self, spark, data_dir: Path, recorded: dict):
        self.spark = spark
        self.data_dir = data_dir
        self.recorded = recorded
        self.hashes: dict[str, str] = {}

    def corpus(self, name: str, spec):
        from alligator_spark.datagen import generate_docs

        path = str(self.data_dir / name)
        generate_docs(self.spark, spec).write.parquet(path)
        docs = self.spark.read.parquet(path)
        h = self.hashes[name] = fingerprint(docs)
        if name in self.recorded and self.recorded[name] != h:
            raise InputMismatch(f"input {name} hashes to {h}, recorded {self.recorded[name]}")
        return docs, path

    def gold(self, spec) -> dict:
        from alligator_spark.datagen import gold_clusters

        return {r["doc_id"]: r["cluster_id"] for r in gold_clusters(self.spark, spec).collect()}


def canary_hash(spark) -> str:
    from alligator_spark.datagen import CorpusSpec, generate_docs

    return fingerprint(generate_docs(spark, CorpusSpec(**CANARY_SPEC)))


# --------------------------------------------------------------- link_many


def force_outputs(out: dict) -> dict:
    """Materialize the four user-facing outputs, as a consumer would."""
    return {name: out[name].collect() for name in OUTPUTS}


def drop_from_resume_point(workdir: Path) -> None:
    """Remove committed stages from RESUME_FROM onward and the commit marker
    of PARTIAL_STAGE, leaving that stage partly written."""
    from alligator_spark.plans.pipeline import STAGES

    (run_dir,) = [p for p in workdir.iterdir() if (p / STAGES[0]).is_dir()]
    for stage in STAGES[STAGES.index(RESUME_FROM):]:
        shutil.rmtree(run_dir / stage, ignore_errors=True)
    (run_dir / PARTIAL_STAGE / "_SUCCESS").unlink()


def dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 2**20


class LinkMany:
    name = "link_many"

    def __init__(self, ctx):
        self.ctx = ctx
        self.tables: dict[int, tuple] = {}

    def setup(self) -> None:
        from alligator_spark.datagen import CorpusSpec

        ctx = self.ctx
        self._table(0)
        log(f"inputs ready in {time.perf_counter() - ctx.started:.1f}s")
        warm_docs, _ = ctx.inputs.corpus("warmup", CorpusSpec(**WARMUP_SPEC, seed=ctx.seed))
        wall, _, _, _ = self._run(warm_docs, ctx.work_dir / "warmup")
        isolate(ctx.spark)
        log(f"warm-up: link {wall:.2f}s")

    def _table(self, k: int) -> tuple:
        """Corpus k of this seed and its gold labels, generated on first use."""
        from alligator_spark.datagen import CorpusSpec

        if k not in self.tables:
            spec = CorpusSpec(**LINK_SPEC, seed=self.ctx.seed * LINK_CORPORA + k)
            docs, _ = self.ctx.inputs.corpus(f"table{k}", spec)
            self.tables[k] = (docs, self.ctx.inputs.gold(spec))
        return self.tables[k]

    def _run(self, docs, workdir: Path):
        """One timed pipeline run through the four outputs:
        (wall, cpu, out, rows)."""
        from alligator_spark.plans.pipeline import PipelineConfig, run_pipeline

        tracer = self.ctx.tracer
        # the fresh run's garbage must not land in the resume's time
        collect_garbage(self.ctx.spark)
        if tracer:
            tracer.start()
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        out = run_pipeline(self.ctx.spark, docs, str(workdir), PipelineConfig(), resume=True)
        rows = force_outputs(out)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        if tracer:
            tracer.stop()
        return wall, cpu, out, rows

    def iteration(self, i: int) -> dict:
        ctx = self.ctx
        docs, gold = self._table(i % LINK_CORPORA)
        workdir = ctx.work_dir / f"it{i}"
        facts: dict = {}
        if ctx.tracer:
            ctx.tracer.begin_iteration()
        fresh = self._run(docs, workdir)
        if ctx.tracer:
            facts = self._domain_counts(fresh[2], fresh[3], gold, workdir)
        drop_from_resume_point(workdir)
        resumed = self._run(docs, workdir)
        clusters = {r["doc_id"]: r["component_id"] for r in fresh[3]["clusters"]}
        again = {r["doc_id"]: r["component_id"] for r in resumed[3]["clusters"]}
        if again != clusters:
            diff = sum(again.get(d) != c for d, c in clusters.items())
            raise CheckFailed(f"resumed components differ from fresh on {diff} docs")
        for name in ("cea", "cta", "cpa"):
            if not fresh[3][name] or not resumed[3][name]:
                raise CheckFailed(f"output {name} is empty")
        f1 = pairwise_f1(clusters, gold)
        row = {
            "input": f"table{i % LINK_CORPORA}",
            "link_s": fresh[0],
            "link_cpu_s": fresh[1],
            "redecide_s": resumed[0],
            "redecide_cpu_s": resumed[1],
            "f1": f1,
        }
        if ctx.tracer:
            row["trace"] = ctx.layer_row(fresh[0] + resumed[0], facts)
        isolate(ctx.spark)
        shutil.rmtree(workdir)
        return row

    def _domain_counts(self, out, rows, gold, workdir: Path) -> dict:
        by_entity: dict[str, list[str]] = {}
        for doc, cluster in gold.items():
            by_entity.setdefault(cluster, []).append(doc)
        gold_pairs = {
            (a, b) for docs in by_entity.values() for a in docs for b in docs if a < b
        }
        cand = {(r["doc_a"], r["doc_b"]) for r in out["candidate_edges"].select("doc_a", "doc_b").collect()}
        found = sum((min(a, b), max(a, b)) in gold_pairs for a, b in cand)
        tables = [p for p in workdir.glob("*/*") if p.is_dir()]
        return {
            "pairs.candidates": len(cand),
            "pairs.gold_recall": found / len(gold_pairs),
            "pairs.per_gold_pair": len(cand) / len(gold_pairs),
            "scoring.edges": out["scored_edges"].count(),
            "accept.accepted_edges": out["final_edges"].filter("accepted").count(),
            "clustering.components": len({r["component_id"] for r in rows["clusters"]}),
            "clustering.cc_rounds": self.ctx.tracer.cc_stats.get("rounds", 0),
            "tables.bytes_committed_mb": sum(dir_mb(p) for p in tables),
        }

    def summarize(self, rows: list[dict]) -> dict:
        """End-to-end values, and the stdout report (label, value, unit, n)."""
        n = len(rows)
        values = {
            "link_cpu_s": median(r["link_cpu_s"] for r in rows),
            "redecide_cpu_s": median(r["redecide_cpu_s"] for r in rows),
            "f1": min(r["f1"] for r in rows),
        }
        report = [
            ("link_s", median(r["link_s"] for r in rows), "s", n),
            ("link_cpu_s", values["link_cpu_s"], "cpu_s", n),
            ("resume_s", median(r["redecide_s"] for r in rows), "s", n),
            ("resume_cpu_s", values["redecide_cpu_s"], "cpu_s", n),
            ("pairwise_f1", values["f1"], "ratio", n),
        ]
        return values | {"report": report}


# --------------------------------------------------------- stream_arrivals


def doc_index(doc_id: str) -> int:
    return int(doc_id[1:])


def is_arrival(i: int, spec) -> bool:
    """Held out of the corpus: the last duplicate of every entity and every
    4th distractor."""
    bk = spec.n_entities * spec.dups_per_entity
    if i < bk:
        return i % spec.dups_per_entity == spec.dups_per_entity - 1
    return (i - bk) % 4 == 0


def stage_arrivals(corpus_path: str, spec, out_dir: Path) -> tuple[int, set]:
    """Write the arrivals as STREAM_FILES parquet files, each stamped with its
    own event_ts and modification time so the file source reads them in
    order, one per trigger. Returns (arrival count, arrival ids)."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.read_table(corpus_path).sort_by("doc_id")
    ids = table.column("doc_id").to_pylist()
    mask = [is_arrival(doc_index(d), spec) for d in ids]
    arrivals = table.filter(pa.array(mask))
    out_dir.mkdir(parents=True)
    n = arrivals.num_rows
    for f in range(STREAM_FILES):
        part = arrivals.slice(f * n // STREAM_FILES, (f + 1) * n // STREAM_FILES - f * n // STREAM_FILES)
        ts = pa.array([(STREAM_EPOCH_S + f) * 1_000_000] * part.num_rows, pa.timestamp("us", tz="UTC"))
        path = out_dir / f"arrivals-{f:03d}.parquet"
        pq.write_table(part.append_column("event_ts", ts), path)
        os.utime(path, (STREAM_EPOCH_S + f, STREAM_EPOCH_S + f))
    return n, set(pc.unique(arrivals.column("doc_id")).to_pylist())


class StreamArrivals:
    name = "stream_arrivals"

    def __init__(self, ctx):
        self.ctx = ctx
        self.index_s = 0.0
        self.reference: set | None = None

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from alligator_spark.datagen import CorpusSpec
        from alligator_spark.streaming.ingest import corpus_index

        ctx = self.ctx
        spec = CorpusSpec(**STREAM_SPEC, seed=ctx.seed)
        docs, path = ctx.inputs.corpus("corpus", spec)
        gold = ctx.inputs.gold(spec)
        self.n_arrivals, arrivals = stage_arrivals(path, spec, ctx.data_dir / "arrivals")
        self.arrivals_dir = str(ctx.data_dir / "arrivals")
        self.schema = ctx.spark.read.parquet(self.arrivals_dir).schema
        by_cluster: dict[str, list[str]] = {}
        for doc, cluster in gold.items():
            if doc not in arrivals:
                by_cluster.setdefault(cluster, []).append(doc)
        self.gold_edges = {
            (min(a, s), max(a, s))
            for a in arrivals
            for s in by_cluster.get(gold[a], ())
        }
        static = docs.filter(~F.col("doc_id").isin(sorted(arrivals)))
        t0 = time.perf_counter()
        log(f"inputs ready in {time.perf_counter() - ctx.started:.1f}s")
        index_path = str(ctx.data_dir / "index")
        corpus_index(static).write.parquet(index_path)
        self.index = ctx.spark.read.parquet(index_path)
        self.index_s = time.perf_counter() - t0
        self.iteration(-1, files_per_trigger=2, reconciles=1)

    def iteration(self, i: int, files_per_trigger: int = 1, reconciles: int = RECONCILE_REPEATS) -> dict:
        from alligator_spark.streaming.ingest import reconcile_edges, streaming_link

        ctx = self.ctx
        spark = ctx.spark
        it_dir = ctx.work_dir / f"it{i}"
        cpu0 = tree_cpu_s()
        if ctx.tracer:
            ctx.tracer.begin_iteration()
            ctx.tracer.start()
            ctx.tracer.enter("streaming")
        t0 = time.perf_counter()
        stream = (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(self.arrivals_dir)
        )
        query = (
            streaming_link(stream, self.index)
            .writeStream.format("parquet")
            .option("path", str(it_dir / "sink"))
            .option("checkpointLocation", str(it_dir / "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        drain_cpu_s = tree_cpu_s() - cpu0
        if query.exception() is not None:
            raise CheckFailed(f"stream query failed: {query.exception()}")
        if ctx.tracer:
            ctx.tracer.enter("reconcile")
        reconcile_s, reconcile_cpu_s = [], []
        for _ in range(reconciles):
            cpu1 = tree_cpu_s()
            t1 = time.perf_counter()
            edges = reconcile_edges(spark.read.parquet(str(it_dir / "sink"))).collect()
            reconcile_s.append(time.perf_counter() - t1)
            reconcile_cpu_s.append(tree_cpu_s() - cpu1)
        wall = time.perf_counter() - t0
        if ctx.tracer:
            ctx.tracer.stop()
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        triggers_expected = -(-STREAM_FILES // files_per_trigger)
        if len(progress) != triggers_expected:
            raise CheckFailed(f"{len(progress)} non-empty triggers, expected {triggers_expected}")
        # each scan of the source in the query's plan reads every arrival once
        read = sum(p["numInputRows"] for p in progress)
        if read % self.n_arrivals:
            raise CheckFailed(f"the stream read {read} rows for {self.n_arrivals} arrivals")
        accepted = {(r["doc_a"], r["doc_b"]) for r in edges if r["accepted"]}
        if self.reference is None:
            self.reference = accepted
        elif accepted != self.reference:
            raise CheckFailed("accepted edges differ between iterations of the same inputs")
        triggers = [p["durationMs"]["triggerExecution"] for p in progress]
        log(f"iteration {i}: triggers {triggers} ms, reconcile {[round(r, 2) for r in reconcile_s]} s")
        row = {
            "input": "corpus",
            "batch_ms": triggers,
            "link_s": median(triggers) / 1e3,
            "link_cpu_s": drain_cpu_s / len(progress),
            "redecide_s": median(reconcile_s),
            "redecide_cpu_s": median(reconcile_cpu_s),
            "reconcile_s": reconcile_s,
            "reconcile_cpu_s": reconcile_cpu_s,
            "f1": edge_f1(accepted, self.gold_edges),
        }
        if ctx.tracer:
            sink_rows = spark.read.parquet(str(it_dir / "sink")).count()
            row["trace"] = ctx.layer_row(
                wall, self._stream_counts(progress, sink_rows), runs=[str(query.runId)]
            )
        isolate(spark)
        shutil.rmtree(it_dir)
        return row

    def _stream_counts(self, progress, sink_rows: int) -> dict:
        def med(key):
            return median(p["durationMs"].get(key, 0) for p in progress)

        state = progress[-1]["stateOperators"]
        return {
            "streaming.index_s": self.index_s,
            "streaming.plan_ms": med("queryPlanning"),
            "streaming.add_batch_ms": med("addBatch"),
            "streaming.wal_ms": med("walCommit"),
            "streaming.state_rows": sum(op["numRowsTotal"] for op in state),
            "streaming.edges_per_arrival": sink_rows / self.n_arrivals,
        }

    def summarize(self, rows: list[dict]) -> dict:
        """End-to-end values, and the stdout report (label, value, unit, n)."""
        batches = [ms for r in rows for ms in r["batch_ms"]]
        reconciles = [s for r in rows for s in r["reconcile_s"]]
        reconcile_cpu = [s for r in rows for s in r["reconcile_cpu_s"]]
        values = {
            "link_cpu_s": median(r["link_cpu_s"] for r in rows),
            "redecide_cpu_s": median(reconcile_cpu),
            "f1": min(r["f1"] for r in rows),
        }
        report = [
            ("batch_p50_ms", median(batches), "ms", len(batches)),
            ("batch_cpu_s", values["link_cpu_s"], "cpu_s", len(batches)),
            ("reconcile_s", median(reconciles), "s", len(reconciles)),
            ("reconcile_cpu_s", values["redecide_cpu_s"], "cpu_s", len(reconcile_cpu)),
            ("edge_f1", values["f1"], "ratio", len(rows)),
        ]
        return values | {"report": report}


WORKLOADS = {w.name: w for w in (LinkMany, StreamArrivals)}
