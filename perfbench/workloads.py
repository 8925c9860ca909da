"""The benchmark's workloads, driven only through the package's public
functions.

Builds (one op = one full pass, input table to committed edge table):

* ``kg_build_html`` -- fixed 8-entity vocabulary, ``text`` null: text
  extraction and SVO extraction dominate; canonicalization stays on its
  driver-side path (few distinct norms).
* ``kg_build_vocab`` -- 150k-entity Zipf vocabulary, ``text`` pre-filled:
  extraction from markup is skipped; the distributed LSH + connected
  components path of ``canonical_norm_map`` dominates.

Update (one op = one rolling-window step on a state built in set-up):

* ``kg_update`` -- ``incremental_update`` of the next batch of new pages,
  then ``incremental_delete`` of the previous batch, so the state keeps
  one size. Its time is dominated by the number of Spark jobs per step.

Each workload has an untraced op (for the end-to-end metrics) and a
traced op that calls the layers stepwise, materializing at each layer
boundary inside a span (for the per-layer metrics).
"""

from __future__ import annotations

import inspect
import shutil
import statistics
import time
from pathlib import Path

from pyspark.sql import functions as F

from hades_spark.operators.canonicalize import (MAX_ALIAS_SQUASH_LEN,
                                                canonical_norm_map,
                                                normalize_surface,
                                                normalize_surface_col)
from hades_spark.operators.lsh import (char_shingles, lsh_bucket_size_stats,
                                       lsh_candidate_pairs, verified_pairs)
from hades_spark.pipeline.corpus import gen_pages, pages_df_distributed
from hades_spark.pipeline.incremental_kg import (incremental_delete,
                                                 incremental_update,
                                                 init_state)
from hades_spark.pipeline.kg import (apply_canonical_map, canonical_triples,
                                     distinct_edges, ensure_text)
from hades_spark.functions.triples import raw_triples
from hades_spark.sources.io import write_table

from checks import precision_recall
from tracing import (bytes_written, dir_bytes, dir_files, group_id,
                     self_time, snapshot, sum_stats)

VOCAB = 150_000

#: page counts at scale 1.0 (``--scale`` shrinks them for self-tests);
#: ``richness`` 30 gives ~22 KB html pages, 1 gives ~0.6 KB. 10,000 vocab
#: pages give ~27k distinct norms, a third more than
#: ``canonical_norm_map``'s 20k local threshold. ``distributed`` is the
#: canonicalization path a build must take at full scale.
BUILDS = {
    "kg_build_html": dict(pages=5_000, richness=30, vocab_size=0,
                          with_text=False, distributed=False),
    "kg_build_vocab": dict(pages=10_000, richness=1, vocab_size=VOCAB,
                           with_text=True, distributed=True),
}
#: warm-up: WARM_PASSES passes over 1/WARM_SHARE as many other pages
WARM_SHARE, WARM_PASSES = 8, 2
UPDATE = dict(base=2_000, batch=200, richness=30, vocab_size=VOCAB)

EDGE_COLS = ["subj", "pred", "obj", "edge_key", "confidence", "url",
             "support"]

#: the parameters ``canonical_triples`` runs ``canonical_norm_map`` with
_CANON = {k: p.default for k, p in
          inspect.signature(canonical_norm_map).parameters.items()
          if p.default is not inspect.Parameter.empty}


def _scaled(n: int, scale: float) -> int:
    return max(20, int(n * scale))


def _gen(spark, path: Path, n: int, seed: int, richness: int,
         start: int = 0, vocab_size: int = 0, with_text: bool = False):
    """Synthesize pages ``[start, start + n)`` to parquet and read them
    back, so every op scans a file table like a crawl input."""
    pages_df_distributed(spark, n, seed=seed, start=start,
                         richness=richness, vocab_size=vocab_size,
                         with_text=with_text) \
        .write.mode("overwrite").parquet(str(path))
    return spark.read.parquet(str(path))


def canonical_truth(pages) -> set[tuple]:
    """Reference ``(subj, pred, obj)`` set of generated ``pages``, formed
    as ``expected_canonical_triples`` forms it: an entity's id is the
    smallest normalized surface of it observed among ``pages``."""
    observed: dict[str, set[str]] = {}
    for p in pages:
        for (s, _pr, o), (s_s, o_s) in zip(p.truth, p.surfaces):
            observed.setdefault(s, set()).add(normalize_surface(s_s))
            observed.setdefault(o, set()).add(normalize_surface(o_s))
    canon = {c: min(norms) for c, norms in observed.items()}
    return {(canon[s], pr, canon[o]) for p in pages for s, pr, o in p.truth}


def observed_norms(pages) -> int:
    """Distinct non-empty normalized surfaces in generated ``pages``: the
    vocabulary ``canonical_norm_map`` sees when extraction is exact."""
    return len({n for p in pages for pair in p.surfaces
                for n in map(normalize_surface, pair) if n})


def _edge_rows(spark, path) -> set[tuple]:
    return {tuple(r) for r in
            spark.read.parquet(str(path)).select(*EDGE_COLS).collect()}


class _Op(dict):
    """Outcome of one op: ``wall_s``, ``triples``, ``output_bytes``,
    ``precision``, ``recall``, ``ok`` (plus ``layers`` when traced)."""


class BuildWorkload:
    min_ops = 2

    def __init__(self, spark, work: Path, seed: int, name: str,
                 scale: float) -> None:
        cfg = BUILDS[name]
        self.spark, self.work, self.seed, self.name = spark, work, seed, name
        self.n = _scaled(cfg["pages"], scale)
        self.richness = cfg["richness"]
        self.vocab_size = cfg["vocab_size"]
        self.with_text = cfg["with_text"]
        # shrunken self-test inputs may take either path
        self.distributed = cfg["distributed"] if scale == 1.0 else None
        self._lsh = None

    def prepare(self) -> dict:
        self.pages = _gen(self.spark, self.work / "pages", self.n,
                          self.seed, self.richness,
                          vocab_size=self.vocab_size,
                          with_text=self.with_text)
        self.warm_pages = _gen(self.spark, self.work / "warm_pages",
                               max(20, self.n // WARM_SHARE), self.seed,
                               self.richness, start=self.n,
                               vocab_size=self.vocab_size,
                               with_text=self.with_text)
        truth = gen_pages(self.n, self.seed, compute_text=False,
                          vocab_size=self.vocab_size)
        self.want = canonical_truth(truth)
        norms = observed_norms(truth)
        # the workload is defined by the canonicalization path it takes;
        # a generator or threshold change that flips it must fail the run
        distributed = norms > _CANON["local_threshold"]
        if self.distributed not in (None, distributed):
            raise RuntimeError(
                f"{self.name}: {norms} distinct norms against "
                f"local_threshold {_CANON['local_threshold']} no longer "
                f"take the {'distributed' if self.distributed else 'local'}"
                f" canonicalization path")
        return {"pages": self.n, "reference_triples": len(self.want),
                "reference_norms": norms}

    def setup(self) -> None:
        """Nothing beyond the session: a build starts from the table."""

    def warm(self, k: int) -> None:
        """Passes over a smaller table of other pages, forced onto the
        canonicalization path the full input takes: they start the
        same Python UDFs and compile the same plans as a timed op at a
        fraction of its cost, so every timed op runs warm."""
        canon = {"local_threshold": 0} if self.distributed else {}
        for i in range(WARM_PASSES):
            out = self.work / f"warm-{k}-{i}"
            self._pass(self.warm_pages, out, **canon)
            shutil.rmtree(out, ignore_errors=True)

    def final_check(self) -> None:
        """Every op's output was checked as it ran."""

    def _check(self, out: Path, wall: float) -> _Op:
        rows = self.spark.read.parquet(str(out)) \
            .select("subj", "pred", "obj", "support").collect()
        got = {(row.subj, row.pred, row.obj) for row in rows}
        p, r = precision_recall(got, self.want)
        op = _Op(wall_s=wall, triples=sum(row.support for row in rows),
                 output_bytes=dir_bytes(out), precision=p, recall=r,
                 ok=p == 1.0 and r == 1.0)
        shutil.rmtree(out, ignore_errors=True)
        return op

    def _pass(self, pages, out: Path, **canon) -> float:
        """One full pass, input table to committed edge table; its wall
        time."""
        caches: list = []
        t0 = time.perf_counter()
        try:
            write_table(distinct_edges(canonical_triples(
                pages, caches=caches, **canon)),
                str(out), partition_by=["pred"])
            return time.perf_counter() - t0
        finally:
            for c in caches:
                c.unpersist(blocking=True)

    def run_op(self, k: int) -> _Op:
        out = self.work / f"edges-{k}"
        return self._check(out, self._pass(self.pages, out))

    def run_traced_op(self, k: int, tracer) -> _Op:
        out = self.work / f"edges-{k}"
        caches: list = []
        pages = self.pages
        try:
            with tracer.span("op", k) as op_span:
                with tracer.span("triples", k) as tri_span:
                    with tracer.span("textcore", k) as text_span:
                        todo = pages.filter(F.col("text").isNull())
                        filled = ensure_text(todo).cache()
                        caches.append(filled)
                        n_text = filled.count()
                    full = pages.filter(F.col("text").isNotNull()) \
                        .unionByName(filled)
                    raw = raw_triples(full).select(
                        "url", "pred", "confidence",
                        normalize_surface_col(F.col("subj"))
                        .alias("subj_norm"),
                        normalize_surface_col(F.col("obj"))
                        .alias("obj_norm"),
                    ).cache()
                    caches.append(raw)
                    n_raw = raw.count()
                with tracer.span("canonicalize", k) as can_span:
                    norms = raw.select(F.explode(
                        F.array("subj_norm", "obj_norm")).alias("norm"))
                    cmap = canonical_norm_map(
                        norms, threshold=_CANON["threshold"],
                        local_threshold=_CANON["local_threshold"]).cache()
                    caches.append(cmap)
                    map_rows = cmap.count()
                with tracer.span("kg", k) as kg_span:
                    edges = distinct_edges(
                        apply_canonical_map(raw, cmap)).cache()
                    caches.append(edges)
                    n_edges = edges.count()
                with tracer.span("io", k) as io_span:
                    write_table(edges, str(out), partition_by=["pred"])
            # boundary counters, outside the op span
            mb_in = todo.agg(F.sum(F.length("html"))).collect()[0][0] or 0
            distinct_norms = norms.filter(F.col("norm") != "") \
                .dropDuplicates(["norm"]).count()
            distributed = distinct_norms > _CANON["local_threshold"]
            if self._lsh is None:
                self._lsh = self._lsh_counts(norms) if distributed else {
                    "lsh.candidates": 0, "lsh.verified": 0,
                    "lsh.verify_yield": 0.0, "lsh.bucket_max": 0,
                    "lsh.buckets_capped": 0}
            io_files = dir_files(out)
            io_mb = dir_bytes(out) / 2**20
        finally:
            for c in caches:
                c.unpersist(blocking=True)
        spans = tracer.spans
        op = self._check(out, op_span.duration)
        op["layers"] = {
            "textcore.busy_s": text_span.duration,
            "textcore.pages": n_text,
            "textcore.mb_in": mb_in / 2**20,
            "triples.busy_s": tri_span.duration,
            "triples.self_s": self_time(spans, spans.index(tri_span)),
            "triples.rows_out": n_raw,
            "canonicalize.busy_s": can_span.duration,
            "canonicalize.distinct_norms": distinct_norms,
            "canonicalize.distributed": int(distributed),
            "canonicalize.map_rows": map_rows,
            **self._lsh,
            "kg.busy_s": kg_span.duration,
            "kg.edges": n_edges,
            "kg.support_ratio": n_raw / n_edges if n_edges else 0.0,
            "io.write_s": io_span.duration,
            "io.files": io_files,
            "io.mb_written": io_mb,
        }
        return op

    def _lsh_counts(self, norms) -> dict:
        """Candidate, verified and bucket counts of the LSH join with the
        parameters the distributed canonicalization uses."""
        squashes = norms.select(
            F.regexp_replace("norm", " ", "").alias("squash")) \
            .filter((F.length("squash") > 0)
                    & (F.length("squash") <= MAX_ALIAS_SQUASH_LEN)) \
            .dropDuplicates(["squash"]).localCheckpoint(eager=True)
        lsh = dict(num_hashes=_CANON["num_hashes"], bands=_CANON["bands"])
        shingles = char_shingles(F.col("squash"), 3)
        cand = lsh_candidate_pairs(
            squashes, "squash", shingles,
            max_bucket_size=_CANON["max_bucket_size"], **lsh).count()
        ver = verified_pairs(
            squashes, "squash", shingles, threshold=_CANON["threshold"],
            metric="containment",
            max_bucket_size=_CANON["max_bucket_size"], **lsh).count()
        stats = lsh_bucket_size_stats(squashes, "squash", shingles,
                                      cap=_CANON["max_bucket_size"], **lsh)
        return {"lsh.candidates": cand, "lsh.verified": ver,
                "lsh.verify_yield": ver / cand if cand else 0.0,
                "lsh.bucket_max": stats["max"],
                "lsh.buckets_capped": stats["capped_buckets"]}


class UpdateWorkload:
    """Rolling window over a state built in set-up. Step k adds batch k
    (pages ``[base + k*batch, base + (k+1)*batch)``) and deletes batch
    k-1; step 0 deletes the base's last batch-sized slice instead. After
    step k the surviving pages are the base head plus batch k.

    ``init_state`` runs the same layers as a step (extraction, LSH,
    components, edge writes), so it is also the warm-up: a step costs
    ~300 Spark jobs, and an extra untimed one would not fit a run."""

    min_ops = 1

    def __init__(self, spark, work: Path, seed: int, name: str,
                 scale: float) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.base = _scaled(UPDATE["base"], scale)
        self.batch = min(_scaled(UPDATE["batch"], scale), self.base // 2)
        self.vocab_size = UPDATE["vocab_size"]
        self.state = work / "state"

    def _pages(self, name: str, n: int, start: int):
        return _gen(self.spark, self.work / name, n, self.seed,
                    UPDATE["richness"], start=start,
                    vocab_size=self.vocab_size)

    def _truth_pages(self, start: int, n: int) -> list:
        return gen_pages(start + n, self.seed, compute_text=False,
                         vocab_size=self.vocab_size)[start:]

    def prepare(self) -> dict:
        head = self.base - self.batch
        self.head = self._pages("base_head", head, 0)
        self.prev = self._pages("base_tail", self.batch, head)
        self.head_truth = self._truth_pages(0, head)
        return {"pages": self.base, "batch": self.batch}

    def _next_batch(self, k: int) -> None:
        """Synthesize batch k before its step is timed."""
        start = self.base + k * self.batch
        self.next = self._pages(f"batch-{k}", self.batch, start)
        self.next_truth = self._truth_pages(start, self.batch)

    def setup(self) -> None:
        init_state(self.spark, self.head.unionByName(self.prev),
                   str(self.state))

    def warm(self, k: int) -> None:
        """``init_state`` in set-up was the warm-up."""

    def _step(self, k: int, tracer=None,
              pages=None) -> tuple[float, dict, dict]:
        def call(name, fn, *args, **kw):
            if tracer is None:
                return fn(*args, **kw)
            with tracer.span(name, k):
                return fn(*args, **kw)

        t0 = time.perf_counter()
        up = call("update", incremental_update, self.spark,
                  self.next if pages is None else pages,
                  str(self.state), batch_id=f"u{k}")
        dl = call("delete", incremental_delete, self.spark,
                  self.prev.select("url"), str(self.state),
                  delete_id=f"d{k}")
        wall = time.perf_counter() - t0
        self.prev, self.current = self.next, self.next
        self.current_truth = self.next_truth
        return wall, up, dl

    def _check(self, wall: float, up: dict) -> _Op:
        """State edges against the generator's truth for the surviving
        pages."""
        got = {t[:3] for t in _edge_rows(self.spark, self.state / "edges")}
        p, r = precision_recall(got, canonical_truth(
            self.head_truth + self.current_truth))
        return _Op(wall_s=wall, triples=up["stages"]["extract"]["rows"],
                   output_bytes=dir_bytes(self.state), precision=p,
                   recall=r, ok=p == 1.0 and r == 1.0)

    def final_check(self) -> _Op:
        """The module's invariant, once per run (a rebuild costs as much
        as a step): the state's edge rows equal those of a full rebuild
        over the surviving pages."""
        got = _edge_rows(self.spark, self.state / "edges")
        ref = self.work / "rebuild"
        caches: list = []
        try:
            write_table(distinct_edges(canonical_triples(
                self.head.unionByName(self.current), caches=caches,
                local_threshold=0)), str(ref))
        finally:
            for c in caches:
                c.unpersist(blocking=True)
        want = _edge_rows(self.spark, ref)
        shutil.rmtree(ref, ignore_errors=True)
        p, r = precision_recall(got, want)
        return _Op(precision=p, recall=r, ok=got == want)

    def run_op(self, k: int) -> _Op:
        self._next_batch(k)
        wall, up, _dl = self._step(k)
        return self._check(wall, up)

    def run_traced_op(self, k: int, tracer) -> _Op:
        self._next_batch(k)
        before = snapshot(self.state)
        mb_in = self.next.agg(F.sum(F.length("html"))).collect()[0][0] or 0
        with tracer.span("op", k) as op_span:
            # stepwise: text extraction first, in a span of its own, so
            # incremental_update receives pages whose text is filled
            with tracer.span("textcore", k) as text_span:
                pages = ensure_text(self.next).cache()
                n_text = pages.count()
            try:
                _wall, up, dl = self._step(k, tracer, pages)
            finally:
                pages.unpersist(blocking=True)
        written = bytes_written(before, snapshot(self.state))
        op = self._check(op_span.duration, up)
        upd = tracer.spans[tracer.named("update")[-1]]
        dele = tracer.spans[tracer.named("delete")[-1]]
        layers = {"textcore.busy_s": text_span.duration,
                  "textcore.pages": n_text, "textcore.mb_in": mb_in / 2**20,
                  "update.op_s": upd.duration, "delete.op_s": dele.duration}
        for prefix, stages, names in (("update", up["stages"], UPDATE_STAGES),
                                      ("delete", dl["stages"], DELETE_STAGES)):
            for st in names:
                layers[f"{prefix}.{st}_s"] = stages.get(st, {}).get("sec", 0.0)
        layers["update.verify_rows"] = up["stages"]["verify"]["rows"]
        layers["update.edges_rows"] = up["stages"]["edges"]["rows"]
        layers["state.files"] = dir_files(self.state)
        layers["state.mb_written_per_step"] = written / 2**20
        op["layers"] = layers
        return op


UPDATE_STAGES = ("extract", "norms", "hash", "verify", "scope", "components",
                 "edges", "commit")
DELETE_STAGES = ("stage", "purge", "norms", "verify", "scope", "components",
                 "edges", "commit")

WORKLOADS = {**{n: BuildWorkload for n in BUILDS},
             "kg_update": UpdateWorkload}


#: per-layer metric -> unit. A layer the workload does not call from
#: outside (e.g. ``textcore`` inside ``incremental_update``) reads 0.
PER_LAYER = {
    "textcore.busy_s": "s", "textcore.pages": "count", "textcore.mb_in": "MB",
    "triples.busy_s": "s", "triples.self_s": "s", "triples.rows_out": "count",
    "canonicalize.busy_s": "s", "canonicalize.distinct_norms": "count",
    "canonicalize.distributed": "flag", "canonicalize.map_rows": "count",
    "lsh.candidates": "count", "lsh.verified": "count",
    "lsh.verify_yield": "ratio", "lsh.bucket_max": "count",
    "lsh.buckets_capped": "count",
    "kg.busy_s": "s", "kg.edges": "count", "kg.support_ratio": "ratio",
    "io.write_s": "s", "io.files": "count", "io.mb_written": "MB",
    "update.op_s": "s",
    **{f"update.{st}_s": "s" for st in UPDATE_STAGES},
    "update.verify_rows": "count", "update.edges_rows": "count",
    "delete.op_s": "s",
    **{f"delete.{st}_s": "s" for st in DELETE_STAGES},
    "state.files": "count", "state.mb_written_per_step": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_busy_s": "s", "spark.idle_share": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.gc_s": "s",
    "trace.traced_wall_s": "s", "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
}


def spark_per_op(tracer, stats: dict, slots: int) -> list[dict]:
    """Spark work of each traced op: the job groups of all its spans."""
    out = []
    for i in tracer.named("op"):
        op_span = tracer.spans[i]
        tot = sum_stats([stats[group_id(j)]
                         for j, s in enumerate(tracer.spans)
                         if s.op == op_span.op and group_id(j) in stats])
        busy = tot["task_busy_ms"] / 1000.0
        out.append({
            "spark.jobs": tot["jobs"], "spark.stages": tot["stages"],
            "spark.tasks": tot["tasks"], "spark.task_busy_s": busy,
            "spark.idle_share": 1.0 - busy / (op_span.duration * slots),
            "spark.shuffle_write_mb": tot["shuffle_write_bytes"] / 2**20,
            "spark.spill_mb": tot["spill_bytes"] / 2**20,
            "spark.gc_s": tot["gc_ms"] / 1000.0,
        })
    return out


def layer_metrics(tracer, traced: list, plain: list, stats: dict,
                  slots: int) -> dict:
    """Median over the traced ops of every per-layer metric, plus the
    tracing overhead: median traced op wall minus median untraced."""
    rows = [op["layers"] for op in traced] + spark_per_op(tracer, stats,
                                                          slots)
    vals = {}
    for name in PER_LAYER:
        xs = [r[name] for r in rows if name in r]
        vals[name] = statistics.median(xs) if xs else 0
    if traced and plain:
        vals["trace.traced_wall_s"] = statistics.median(
            op["wall_s"] for op in traced)
        vals["trace.untraced_wall_s"] = statistics.median(
            op["wall_s"] for op in plain)
        vals["trace.overhead_s"] = (vals["trace.traced_wall_s"]
                                    - vals["trace.untraced_wall_s"])
    return vals
