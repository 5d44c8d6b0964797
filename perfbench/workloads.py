"""The four benchmark workloads.

Each workload is one closed-loop client: it issues the next public call
only after the previous one returned. ``setup`` writes the run's inputs
(from the seed) and ``build`` loads what the passes draw on; ``run_pass`` is one pass of
client calls; ``verify`` checks outputs after the measured window;
``layer_metrics`` turns one traced pass into per-layer numbers.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

import datagen as G
import spans as T

ANALYTICS_KEYS = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "j2_broadcast_star_join", "a4_quantile_summary", "a8_histogram_cdf",
    "w1_count_over_partition", "w4_cumulative_sum", "g1_posexplode",
    "x1_subject_level_split", "ev_sessionize", "ev_tumbling_window",
]

CORPUS_KEYS = {
    "text_token_stats": "functions.text",
    "dedup_exact": "functions.dedup",
    "dedup_minhash_lsh": "functions.dedup",
    "dedup_simhash": "functions.dedup",
    "dedup_embedding_cosine": "functions.dedup",
    "sim_bruteforce_topk": "functions.similarity",
    "sim_lsh_topk": "functions.similarity",
    "sim_ann_join": "functions.similarity",
}

SPEC_FILE = os.path.join("examples", "corpus_pipeline_e2e.json")


def _raw_sim_ann_join(spark, sf_dir):
    """The production all-pairs ANN join, as bench.py times it (the
    registry entry wraps it in oracle-checkable invariants)."""
    from pyspark.sql import functions as F

    import qcardia_data_spark.functions.similarity as SIM
    from qcardia_data_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.pairwise_topk_join(
        emb.select(F.col("vec_id").alias("a"), "embedding"),
        emb.select(F.col("vec_id").alias("b"), "embedding"),
        k=3, id_left="a", id_right="b", n_planes=6, max_bucket_size=1000,
    ).select("a", "b", F.round("score", 6).alias("score"))


def _raw_sim_lsh_topk(spark, sf_dir):
    from pyspark.sql import functions as F

    import qcardia_data_spark.functions.similarity as SIM
    from qcardia_data_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return SIM.ann_lsh_topk(emb, qvec, k=10, n_planes=8).select(
        "vec_id", F.round("score", 6).alias("score")
    )


RAW_FORMS = {"sim_ann_join": _raw_sim_ann_join, "sim_lsh_topk": _raw_sim_lsh_topk}


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def tree_delta(before: dict, after: dict) -> tuple[int, int]:
    """(files written, directories touched) between two snapshots."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    removed = [p for p in before if p not in after]
    return len(changed), len({os.path.dirname(p) for p in changed + removed})


class PassView:
    """One traced pass: its spans, their self times and the Spark jobs
    attributed to them."""

    def __init__(self, spans, jobs_by_group):
        self.spans = spans
        self.by_id = {s.sid: s for s in spans}
        self.selfs = T.self_times(spans)
        self.jobs_by_group = jobs_by_group

    def _ancestry(self, sid):
        while sid is not None and sid in self.by_id:
            yield self.by_id[sid]
            sid = self.by_id[sid].parent

    def sel(self, layer, phase=None, key=None):
        """Outermost spans of ``layer`` (and phase/key, when given)."""
        def match(s):
            return s.layer == layer and phase in (None, s.phase) and key in (None, s.key)

        return [s for s in self.spans
                if match(s) and not any(match(a) for a in list(self._ancestry(s.parent)))]

    def time(self, layer, phase=None, key=None) -> float:
        return sum(s.dur for s in self.sel(layer, phase, key))

    def jobs(self, layer, phase=None, key=None):
        roots = {s.sid for s in self.sel(layer, phase, key)}
        out = []
        for g, js in self.jobs_by_group.items():
            if any(a.sid in roots for a in self._ancestry(g)):
                out.extend(js)
        return out

    def self_s(self, layer) -> float:
        return sum(self.selfs[s.sid] for s in self.spans if s.layer == layer)

    def job_time(self, jobs) -> float:
        return T.covered([(j.start, j.end) for j in jobs], float("-inf"), float("inf"))


def generic(view: PassView, layer: str) -> dict:
    out = {f"{layer}.{p}_s": view.time(layer, p) for p in ("build", "plan", "exec")}
    jobs = view.jobs(layer)
    out[f"{layer}.jobs"] = len(jobs)
    out[f"{layer}.shuffle_bytes"] = T.stage_sum(jobs, "shuffleWriteBytes")
    out[f"{layer}.spill_bytes"] = (
        T.stage_sum(jobs, "memoryBytesSpilled") + T.stage_sum(jobs, "diskBytesSpilled")
    )
    return out


class Collected:
    """Rows a call returned, shaped like the DataFrame they came from for
    ``tests/oracle.py::compare``."""

    def __init__(self, columns, rows):
        self.columns, self.rows = columns, rows

    def collect(self):
        return self.rows


class Workload:
    name = ""

    def __init__(self, run):
        self.run = run
        self.last: dict[str, Collected] = {}

    @property
    def spark(self):
        return self.run.spark

    @property
    def tr(self):
        return self.run.tracer

    def frame_op(self, layer, key, build):
        """One client call on a DataFrame-returning entry point: build, then
        (traced only) force the physical plan, then collect the rows."""
        def go():
            with self.tr.span(layer, "build", key):
                df = build()
            if self.tr.enabled:
                with self.tr.charged(), self.tr.span(layer, "plan", key) as s:
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    s.attrs["plan_chars"] = len(plan)
                    s.attrs["python_eval_nodes"] = T.python_eval_nodes(plan)
            with self.tr.span(layer, "exec", key):
                rows = df.collect()
            self.last[key] = Collected(df.columns, rows)
            return rows

        return self.run.op(key, go)

    def verify_frame(self, key, df, sql, sf_dir):
        """Output of ``key`` (a DataFrame, or rows it returned earlier)
        against its registry oracle SQL in DuckDB."""
        issues = self.run.oracle.compare(df, sql, sf_dir, key)
        self.run.check(key, not issues, "; ".join(issues)[:300])

    def build(self) -> None:
        """One-time set-up after the last input generation."""

    def before_pass(self) -> None:
        """Untimed preparation of the next pass's inputs."""

    def after_pass(self, res: dict) -> None:
        """Untimed checks and bookkeeping after a pass."""

    def extra_metrics(self, results) -> dict:
        return {}


# ---------------------------------------------------------------------------


class Analytics(Workload):
    """12 relational registry keys on seeded sf0.002-scale tables, in a
    seed-permuted order."""

    name = "sf01_analytics"
    SF = 0.002

    def setup(self, d):
        G.write_tables(d, self.run.seed, self.SF, n_docs=200, n_vecs=200)
        self.sf_dir = d
        rng = np.random.default_rng([self.run.seed, 10])
        self.order = [ANALYTICS_KEYS[i] for i in rng.permutation(len(ANALYTICS_KEYS))]

    def run_pass(self):
        from qcardia_data_spark.queries import QUERIES

        for key in self.order:
            self.frame_op("queries", key, lambda k=key: QUERIES[k][0](self.spark, self.sf_dir))
        return {}

    def verify(self):
        """Checks the rows the last measured pass returned."""
        from qcardia_data_spark.queries import QUERIES

        for key in ANALYTICS_KEYS:
            self.verify_frame(key, self.last[key], QUERIES[key][1], self.sf_dir)

    def layer_metrics(self, v, res):
        out = generic(v, "queries")
        out["catalog.load_s"] = v.time("catalog")
        out["catalog.jobs"] = len(v.jobs("catalog"))
        for k in ANALYTICS_KEYS:
            out[f"queries.{k}.wall_s"] = v.time("queries", key=k)
        return out


# ---------------------------------------------------------------------------


class CorpusDedup(Workload):
    """The 8 LLM headline keys plus the corpus spec pipeline up to its
    MinHash near-dedup stage, on a seeded, alphabet-rotated corpus."""

    name = "corpus_dedup"
    N_DOCS, N_VECS, COPIES = 200, 200, 2

    def setup(self, d):
        G.write_tables(d, self.run.seed, 0.001, n_docs=10, n_vecs=10)
        G.write_corpus(d, self.run.seed, self.N_DOCS, self.N_VECS, self.COPIES)
        self.sf_dir = d
        with open(os.path.join(self.run.root, SPEC_FILE)) as f:
            spec = json.load(f)["pipeline"]
        spec[0] = dict(spec[0], path=os.path.join(d, "documents.jsonl"))
        # the later stages (containment dedup, classifier, DSIR, mixing,
        # decontamination, packing) double the pass: no room in the run budget
        self.spec = spec[:[s["op"] for s in spec].index("near_dedup") + 1]

    def _key_build(self, key):
        from qcardia_data_spark.queries import QUERIES

        fn = RAW_FORMS.get(key) or QUERIES[key][0]
        return lambda: fn(self.spark, self.sf_dir)

    def run_pass(self):
        from qcardia_data_spark.plans.spec import compile_pipeline

        for key, layer in CORPUS_KEYS.items():
            self.frame_op(layer, key, self._key_build(key))
        self.frame_op("plans.spec", "corpus_pipeline_e2e",
                      lambda: compile_pipeline(self.spark, self.spec, self.sf_dir))
        return {}

    def verify(self):
        """Checks the rows the last measured pass returned."""
        from qcardia_data_spark.queries import QUERIES

        for key in CORPUS_KEYS:
            sql = QUERIES[key][1]
            if key not in RAW_FORMS and sql is not None:
                self.verify_frame(key, self.last[key], sql, self.sf_dir)
        pairs = self.last["sim_ann_join"].rows
        per_a: dict = {}
        for r in pairs:
            per_a[r["a"]] = per_a.get(r["a"], 0) + 1
        self.run.check(
            "sim_ann_join",
            bool(pairs) and max(per_a.values()) <= 3
            and all(r["a"] != r["b"] and -1.000001 <= r["score"] <= 1.000001 for r in pairs),
            "raw ANN join: empty, >k neighbours, self pair or score out of range",
        )
        self.run.check("sim_lsh_topk", *self._lsh_topk_ok(self.last["sim_lsh_topk"].rows))
        out = self.last["corpus_pipeline_e2e"]
        ids = [r["doc_id"] for r in out.rows]
        # texts of at least 3 words have a 3-word shingle, so an exact copy
        # among them always reaches the near-dedup's Jaccard threshold
        texts = [r["text"] for r in out.rows if len(r["text"].split()) >= 3]
        self.run.check(
            "corpus_pipeline_e2e",
            0 < len(ids) == len(set(ids)) < self.N_DOCS * self.COPIES
            and all(i % 1_000_000 < self.N_DOCS for i in ids)
            and len(set(texts)) == len(texts),
            f"spec pipeline: {len(ids)} rows, {len(set(ids))} distinct ids, "
            f"{len(texts) - len(set(texts))} exact copies of 3+ words, foreign ids "
            f"{[i for i in ids if i % 1_000_000 >= self.N_DOCS][:5]}",
        )

    def _lsh_topk_ok(self, rows, k=10, n_planes=8) -> tuple[bool, str]:
        """The raw LSH top-k against a numpy recomputation: the candidates
        are the vectors in the query's bucket or a one-bit neighbour of it,
        and the answer is the ``min(k, candidates)`` best of them by cosine.
        A sparse neighbourhood legitimately holds fewer than ``k`` vectors.
        Scores are compared to 1e-5, so ties may resolve either way."""
        import pyarrow.parquet as pq

        from qcardia_data_spark.functions.similarity import hyperplane_bucket_py

        t = pq.read_table(os.path.join(self.sf_dir, "embeddings.parquet"))
        ids = t.column("vec_id").to_pylist()
        vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        q = vecs[ids.index(0)]
        qb = hyperplane_bucket_py(q.tolist(), n_planes)
        probes = {qb} | {qb ^ (1 << p) for p in range(n_planes)}
        score = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
        cand = {i: s for i, v, s in zip(ids, vecs, score)
                if hyperplane_bucket_py(v.tolist(), n_planes) in probes}
        got = {r["vec_id"]: r["score"] for r in rows}
        worst = min(got.values(), default=float("inf"))
        ok = (len(rows) == len(got) == min(k, len(cand))
              and all(i in cand and abs(s - cand[i]) < 1e-5 for i, s in got.items())
              and all(s <= worst + 1e-5 for i, s in cand.items() if i not in got))
        return ok, (f"raw LSH top-k: {len(rows)} rows, {len(cand)} candidates, "
                    f"returned {sorted(got)[:k]}")

    def layer_metrics(self, v, res):
        out = {
            "plans.spec.build_s": v.time("plans.spec", "build"),
            "plans.spec.jobs_before_action": len(v.jobs("plans.spec", "build")),
            "plans.spec.exec_s": v.time("plans.spec", "exec"),
            "functions.text.exec_s": v.time("functions.text", "exec"),
        }
        out.update(generic(v, "functions.dedup"))
        sim = generic(v, "functions.similarity")
        out.update({k: sim[k] for k in (
            "functions.similarity.build_s", "functions.similarity.exec_s",
            "functions.similarity.shuffle_bytes")})
        out["functions.similarity.plan_chars"] = sum(
            s.attrs.get("plan_chars", 0) for s in v.sel("functions.similarity", "plan"))
        return out


# ---------------------------------------------------------------------------


class MriCache(Workload):
    """Reformat cine NIfTI subjects into the record cache, set up a
    DataModule on it, serve one train epoch, run the predictor and an
    exploration summary, then materialize the same spec again, which must
    hit the cache just written."""

    name = "mri_cache"
    N_SUBJECTS = 3
    VALID_FRACTION = 0.25  # round(3 * 0.25) = 1 valid subject, no rounding tie
    BATCH = 10

    def setup(self, d):
        raw = os.path.join(d, "raw")
        self.vols = G.write_subjects(raw, self.run.seed, self.N_SUBJECTS)
        self.raw = raw
        self.input_bytes = sum(os.path.getsize(os.path.join(raw, f)) for f in os.listdir(raw))
        self.n_pass = 0
        self.served: list = []
        self.d = d

    def _spec(self):
        return {"workload": self.name, "seed": self.run.seed, "n_frames": G.N_FRAMES}

    def run_pass(self):
        from qcardia_data_spark import exploration, splits
        from qcardia_data_spark.plans import cache
        from qcardia_data_spark.plans.data_module import DataModule
        from qcardia_data_spark.predictor import DataPredictor
        from qcardia_data_spark.reformat import reformat_volumes

        self.n_pass += 1
        root = os.path.join(self.d, f"pass{self.n_pass}")
        tr, res = self.tr, {}

        def build_records():
            with tr.span("reformat", "build"):
                records, _meta = reformat_volumes(
                    self.spark, self.raw, glob="*.nii.gz", dataset="bench",
                    n_frames=G.N_FRAMES, codec="nii",
                )
            if tr.enabled:
                with tr.charged(), tr.span("reformat", "plan") as s:
                    plan = records._jdf.queryExecution().executedPlan().toString()
                    s.attrs["python_eval_nodes"] = T.python_eval_nodes(plan)
            return records

        def reformat_and_cache():
            with tr.span("plans.cache", "write"):
                return cache.materialize(self.spark, build_records,
                                         os.path.join(root, "reformat"), self._spec())

        t0 = time.perf_counter()
        rec_path, built = self.run.op("reformat_cache", reformat_and_cache)
        res["cache_stage_s"] = time.perf_counter() - t0
        self.run.check("reformat_cache.built", built, "fresh cache root was not built")

        config = {
            "pipeline": [
                {"op": "source", "path": rec_path},
                {"op": "filter", "expr": "volume > 0"},
                {"op": "with_columns", "cols": {"area": "height * width"}},
            ],
            "cache_root": os.path.join(root, "dm"),
            "subject_col": "subject",
            "split": {"valid_fraction": self.VALID_FRACTION, "seed": self.run.seed},
        }

        def dm_setup():
            with tr.span("plans.data_module", "setup"):
                return DataModule(self.spark, config).setup()

        dm = self.run.op("data_module_setup", dm_setup)

        def check_split():
            with tr.span("splits", "exec"):
                routed = dm.frame("train").unionByName(dm.frame("valid"))
                splits.assert_disjoint(routed.select("subject", "split"), key="subject")

        self.run.op("split_disjoint", check_split)

        def epoch():
            n, first, wait = 0, None, 0.0
            t = time.perf_counter()
            with tr.span("plans.data_module", "epoch"):
                it = dm.iter_pandas_batches("train", batch_size=self.BATCH,
                                            shuffle_seed=self.run.seed, mode="stream")
                while True:
                    w = time.perf_counter()
                    batch = next(it, None)
                    wait += time.perf_counter() - w
                    if batch is None:
                        break
                    if first is None:
                        first = time.perf_counter() - t
                    n += len(batch)
            return n, first, wait, time.perf_counter() - t

        n_served, res["first_batch_s"], res["batch_wait_s"], epoch_s = self.run.op("epoch", epoch)
        res["serve_records_per_s"] = n_served / epoch_s
        self.served.append(n_served)

        pred = self.frame_op("predictor", "predictor",
                             lambda: DataPredictor(dm.frame("train"), "subject").run())
        self.run.check("predictor", pred[0]["n_records"] == n_served,
                       f"predictor saw {pred[0]['n_records']} records, epoch served {n_served}")

        summ = self.frame_op(
            "exploration", "exploration",
            lambda: exploration.exploration_frame(self.spark.read.parquet(rec_path), ["volume"]))
        self.run.check("exploration", len(summ) == 2 + len(exploration.DEFAULT_QS),
                       f"exploration returned {len(summ)} rows")

        def hit():
            with tr.span("plans.cache", "hit"):
                return cache.materialize(self.spark, build_records,
                                         os.path.join(root, "reformat"), self._spec())

        _p, rebuilt = self.run.op("cache_hit", hit)
        self.run.check("cache_hit", not rebuilt, "cache root just built was rebuilt")

        res["rec_path"], res["root"] = rec_path, root
        return res

    def after_pass(self, res):
        self._check_records(res["rec_path"])
        files = tree_files(res["root"])
        res["bytes_written"] = sum(size for size, _ in files.values())
        res["files_written"] = len(files)
        res["bytes_written_per_input_byte"] = res["bytes_written"] / self.input_bytes
        res["cache_subjects_per_s"] = self.N_SUBJECTS / res["cache_stage_s"]
        shutil.rmtree(res["root"], ignore_errors=True)

    def _check_records(self, rec_path):
        """Per-subject record counts and ED/ES frames against numpy."""
        from pyspark.sql import functions as F

        got = {
            r["subject"]: (r["n"], r["ed"], r["es"])
            for r in self.spark.read.parquet(rec_path).groupBy("subject").agg(
                F.count(F.lit(1)).alias("n"), F.max("ed_frame").alias("ed"),
                F.max("es_frame").alias("es")).collect()
        }
        want = {s: (G.N_FRAMES, *G.expected_ed_es(v)) for s, v in self.vols.items()}
        self.run.check("reformat_records", got == want, f"records {got} != numpy {want}")

    def verify(self):
        want = (self.N_SUBJECTS - round(self.N_SUBJECTS * self.VALID_FRACTION)) * G.N_FRAMES
        self.run.check("epoch_records", all(n == want for n in self.served),
                       f"epochs served {self.served}, train split holds {want}")

    def extra_metrics(self, results):
        keys = ("cache_subjects_per_s", "serve_records_per_s", "first_batch_s",
                "bytes_written_per_input_byte")
        return {k: T.median([r[k] for r in results]) for k in keys}

    def layer_metrics(self, v, res):
        write_jobs = v.jobs("plans.cache", "write")
        return {
            "reformat.exec_s": v.job_time(write_jobs),
            "reformat.executor_cpu_s": T.stage_sum(write_jobs, "executorCpuTime") / 1e9,
            "reformat.python_eval_nodes": sum(
                s.attrs.get("python_eval_nodes", 0) for s in v.sel("reformat", "plan")),
            "plans.cache.write_s": v.time("plans.cache", "write"),
            "plans.cache.bytes_written": res["bytes_written"],
            "plans.cache.files_written": res["files_written"],
            "plans.cache.hit_s": v.time("plans.cache", "hit"),
            "plans.data_module.setup_s": v.time("plans.data_module", "setup"),
            "plans.data_module.jobs_per_epoch": len(v.jobs("plans.data_module", "epoch")),
            "plans.data_module.batch_wait_s": res["batch_wait_s"],
            "splits.exec_s": v.time("splits"),
            "predictor.exec_s": v.time("predictor", "exec"),
            "predictor.python_eval_nodes": sum(
                s.attrs.get("python_eval_nodes", 0) for s in v.sel("predictor", "plan")),
            "exploration.exec_s": v.time("exploration", "exec"),
        }


# ---------------------------------------------------------------------------


class IndexLifecycle(Workload):
    """Standing signature and IVF-PQ indexes: each pass builds them over the
    base corpus into a fresh directory, appends one fresh-id batch to each,
    probes the IVF-PQ index with a seeded query, and replays the signature
    append, which must be refused."""

    name = "index_lifecycle"
    N_BASE, N_BATCH, N_VECS, VEC_BATCH = 300, 40, 300, 40
    BATCH_STRIDE = 1_000_000

    def setup(self, d):
        G.write_tables(d, self.run.seed, 0.001, n_docs=self.N_BASE, n_vecs=self.N_VECS)
        self.d = d

    def build(self):
        d = self.d
        self.docs = self.spark.read.parquet(os.path.join(d, "documents.parquet"))
        self.emb = self.spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        self.base_texts = [r["text"] for r in self.docs.orderBy("doc_id").select("text").collect()]
        self.qvecs = [list(r["embedding"]) for r in self.emb.select("embedding").collect()]
        self.n_batch = 0
        self.appended: list[int] = []

    def before_pass(self):
        """Next fresh-id batch (near and exact copies of base documents plus
        new text, and new vectors) and the probe vector."""
        self.n_batch += 1
        self.pdir = os.path.join(self.d, f"pass{self.n_batch}")
        rng = np.random.default_rng([self.run.seed, 21, self.n_batch])
        id0 = self.n_batch * self.BATCH_STRIDE
        cols = G.documents(rng, self.N_BATCH, id_offset=id0)
        texts = cols["text"].to_pylist()
        for i in range(0, self.N_BATCH, 4):
            src = self.base_texts[int(rng.integers(0, len(self.base_texts)))]
            texts[i] = src if i % 8 == 0 else src + " dup"
        self.batch = self.spark.createDataFrame(
            list(zip(cols["doc_id"].to_pylist(), texts)), "doc_id long, text string")
        vec = G.embeddings(rng, self.VEC_BATCH, id_offset=id0)
        self.vecs = self.spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in
             zip(vec["vec_id"].to_pylist(), vec["embedding"].to_pylist())],
            "vec_id long, embedding array<float>")
        self.in_bytes = sum(len(t.encode()) for t in texts) + self.VEC_BATCH * 4 * G.EMB_DIM
        self.qvec = self.qvecs[int(rng.integers(0, len(self.qvecs)))]

    def _build_indexes(self):
        """Signature index over the MinHash-deduped base corpus and IVF-PQ
        index; returns the base survivors."""
        from qcardia_data_spark.functions import dedup as D
        from qcardia_data_spark.functions import similarity as SIM

        base = D.near_dedup_minhash(self.docs.select("doc_id", "text"), "doc_id", "text")
        survivors = {r["doc_id"] for r in base.select("doc_id").collect()}
        # 8 buckets: what the engine's "auto" sizing picks for a corpus this
        # small, without the row count it would run to decide
        D.write_signature_index(base, "doc_id", "text", self.sig_idx,
                                n_sig_buckets=8, n_id_buckets=8)
        SIM.ivfpq_write_partitioned(self.emb, self.ivf_idx, n_cells=4, m=8, k_codes=16)
        return survivors

    def _append(self, name, fn, res):
        before = None
        if self.tr.enabled:
            with self.tr.charged():
                before = {p: tree_files(p) for p in (self.sig_idx, self.ivf_idx)}
        t0 = time.perf_counter()
        with self.tr.span("index.append", name):
            out = self.run.op(name, fn)
        res["append_s"].append(time.perf_counter() - t0)
        if before is not None:
            with self.tr.charged():
                for p in before:
                    f, dirs = tree_delta(before[p], tree_files(p))
                    res["files_written"] += f
                    res["dirs_touched"] += dirs
        return out

    def _probe(self, name, fn, res):
        t0 = time.perf_counter()
        with self.tr.span("index.probe", name):
            out = self.run.op(name, fn)
        res["probe_s"].append(time.perf_counter() - t0)
        return out

    def run_pass(self):
        from qcardia_data_spark.functions import dedup as D
        from qcardia_data_spark.functions import similarity as SIM

        res = {"append_s": [], "probe_s": [], "files_written": 0, "dirs_touched": 0}
        self.sig_idx, self.ivf_idx = (os.path.join(self.pdir, n) for n in ("sig_idx", "ivfpq_idx"))
        t0 = time.perf_counter()
        with self.tr.span("index.build", "build"):
            survivors = self.run.op("index_build", self._build_indexes)
        res["build_s"] = time.perf_counter() - t0
        res["before"] = {p: tree_files(p) for p in (self.sig_idx, self.ivf_idx)}
        docs, vecs = self.batch, self.vecs
        kept = self._append("near_dedup_incremental", lambda: D.near_dedup_incremental(
            docs, self.sig_idx, "doc_id", "text", update_index=True).select("doc_id").collect(), res)
        res["survivors"] = survivors | {r["doc_id"] for r in kept}
        self.appended.append(self._append(
            "ann_index_append", lambda: SIM.ann_index_append(vecs, self.ivf_idx), res))
        res["top"] = self._probe("ann_ivfpq_probe", lambda: SIM.ann_ivfpq_topk_pruned(
            self.spark, self.ivf_idx, self.qvec, k=10, n_probe=2).collect(), res)
        with self.tr.span("index.append", "replay_append"):
            self.run.op("replay_append", lambda: D.near_dedup_incremental(
                docs, self.sig_idx, "doc_id", "text", update_index=True).count(),
                expect_refusal="max id")
        return res

    def after_pass(self, res):
        from qcardia_data_spark.functions import dedup as D

        top = res.pop("top")
        self.run.check("ann_ivfpq_probe", len(top) == 10 and len({r["vec_id"] for r in top}) == 10,
                       f"IVF-PQ probe returned {len(top)} rows")
        union = self.docs.select("doc_id", "text").unionByName(self.batch)
        full = {r["doc_id"] for r in D.near_dedup_minhash(union, "doc_id", "text")
                .select("doc_id").collect()}
        self.run.check("incremental_survivors", full == res["survivors"],
                       f"incremental survivors differ from one-shot dedup in "
                       f"{len(full ^ res['survivors'])} ids")
        written = 0
        for p, before in res.pop("before").items():
            written += sum(v[0] for q, v in tree_files(p).items() if before.get(q) != v)
        res["bytes_written_per_input_byte"] = written / self.in_bytes
        shutil.rmtree(self.pdir, ignore_errors=True)

    def verify(self):
        self.run.check("ann_index_append", all(n == self.VEC_BATCH for n in self.appended),
                       f"appended {self.appended}, expected {self.VEC_BATCH} per batch")

    def extra_metrics(self, results):
        app = [x for r in results for x in r["append_s"]]
        probe = [x for r in results for x in r["probe_s"]]
        out = {
            "build_s": T.median([r["build_s"] for r in results]),
            "append_s.p50": T.median(app),
            "probe_s.p50": T.median(probe),
            "bytes_written_per_input_byte": T.median(
                [r["bytes_written_per_input_byte"] for r in results]),
            "n_probes": len(probe),
        }
        p90 = T.percentile(probe, 0.9)
        if p90 is not None:
            out["probe_s.p90"] = p90
        return out

    def layer_metrics(self, v, res):
        out = {"index.build_s": v.time("index.build"),
               "index.append.files_written": res["files_written"],
               "index.append.dirs_touched": res["dirs_touched"]}
        for kind in ("append", "probe"):
            layer = f"index.{kind}"
            jobs = v.jobs(layer)
            meta_spans = [m for s in v.sel(layer) for m in v.spans
                          if m.layer == "index.meta" and s.start <= m.start and m.end <= s.end]
            meta_groups = {m.sid for m in meta_spans}
            meta_jobs = [j for j in jobs if j.meta or j.group in meta_groups]
            out[f"{layer}.jobs"] = len(jobs)
            out[f"{layer}.meta_s"] = T.covered(
                [(m.start, m.end) for m in meta_spans] + [(j.start, j.end) for j in meta_jobs],
                float("-inf"), float("inf"))
            if kind == "append":
                out[f"{layer}.meta_jobs"] = len(meta_jobs)
        probes = v.sel("index.probe")
        job_iv = [(j.start, j.end) for j in v.jobs("index.probe")]
        out["index.probe.no_job_s"] = sum(s.dur - T.covered(job_iv, s.start, s.end) for s in probes)
        out["index.probe.shuffle_fetch_wait_s"] = T.stage_sum(
            v.jobs("index.probe"), "shuffleFetchWaitTime") / 1e3
        return out


class Composite(Workload):
    """Parts run one after another in each pass; their per-pass results,
    checks and metrics stay apart by part name."""

    def __init__(self, run, name, parts):
        super().__init__(run)
        self.name = name
        self.parts = [p(run) for p in parts]

    def setup(self, d):
        for p in self.parts:
            p.setup(os.path.join(d, p.name))

    def build(self):
        for p in self.parts:
            p.build()

    def before_pass(self):
        for p in self.parts:
            p.before_pass()

    def run_pass(self):
        out = {}
        for p in self.parts:
            t0 = time.perf_counter()
            out[p.name] = p.run_pass()
            out[p.name]["part_s"] = time.perf_counter() - t0
        return out

    def after_pass(self, res):
        for p in self.parts:
            p.after_pass(res[p.name])

    def verify(self):
        for p in self.parts:
            p.verify()

    def extra_metrics(self, results):
        if len(self.parts) > 1:
            out = {f"{p.name}.part_s": T.median([r[p.name]["part_s"] for r in results])
                   for p in self.parts}
        else:
            out = {}
        return out | {f"{p.name}.{k}": v for p in self.parts
                for k, v in p.extra_metrics([r[p.name] for r in results]).items()}

    def layer_metrics(self, v, res):
        out = {}
        for p in self.parts:
            out.update(p.layer_metrics(v, res[p.name]))
        return out


WORKLOADS = {
    "analytics_corpus": [Analytics, CorpusDedup],
    "mri_cache_index": [MriCache, IndexLifecycle],
    "sf01_analytics": [Analytics],
    "mri_cache": [MriCache],
    "corpus_dedup": [CorpusDedup],
    "index_lifecycle": [IndexLifecycle],
}
