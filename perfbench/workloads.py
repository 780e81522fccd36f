"""The benchmark's workloads. Each one calls the package's public API the
way a user would, checks the outputs against the sequential scorer, and in a
traced run times the layers underneath from outside the package.

Workload interface (used by run.py):
  prepare()            seeded inputs, before the session starts
  setup()              make the system ready to take the first doc (timed)
  teardown(state)      release what setup() made
  call(state, out)     the timed closed-loop call; returns docs attempted
  check(state, out)    (attempted, failed, detail) from the call's outputs
  trace(state, out, tracer, call_s)  per-layer metrics of one traced call
"""

from __future__ import annotations

import json
import os
import pickle

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import inputs
from harness import Tracer, clear_spark_cache, persisted_rdd_count

CHECK_SAMPLE = 256  # docs rescored with the sequential state machine per call
_DELIMS = str.maketrans({c: " " for c in "\x00\t\n\r "})


def kenlm_words(text: str | None) -> list[str]:
    """Tokens on the KenLM delimiter set (corpus_count.cc), written out here
    so the check does not reuse the scorer's own splitter."""
    return [w for w in (text or "").translate(_DELIMS).split(" ") if w]


def f32_bits(x: float) -> int:
    return int(np.float32(x).view(np.uint32))


def rescore_mismatches(rows: list[dict], model_for) -> list[dict]:
    """Docs whose (log10_prob, tokens, oov) differ from NGramModel.perplexity,
    the sequential full_score walk; log10_prob is compared bit for bit."""
    bad = []
    for r in rows:
        total, tokens, oov, _ = model_for(r).perplexity(kenlm_words(r["text"]))
        if (
            r["log10_prob"] is None
            or f32_bits(r["log10_prob"]) != f32_bits(total)
            or r["tokens"] != tokens
            or r["oov"] != oov
        ):
            bad.append({**r, "expected": [total, tokens, oov]})
    return bad


def sample_rows(table, seed: int, n: int) -> list[dict]:
    idx = np.random.default_rng(seed).choice(table.num_rows, min(n, table.num_rows), replace=False)
    return table.take(np.sort(idx)).to_pylist()


def kernel_layers(tracer: Tracer, groups: list[tuple[object, list[str]]]) -> dict:
    """lm.score spans: split -> id map -> per-order probe over ``groups`` of
    (model, texts), in process, the kernel the Arrow UDF runs per batch."""
    from kenlm_rs_spark.lm.score import score_batch, split_texts, tokens_to_ids

    m = {"score.split_s": 0.0, "score.idmap_s": 0.0, "score.probe_s": 0.0,
         "score.tokens": 0, "oov": 0}
    with tracer.span("lm.score"):
        for model, texts in groups:
            with tracer.span("lm.score.split_texts", docs=len(texts)) as s:
                flat, offsets = split_texts(texts)
            m["score.split_s"] += Tracer.seconds(s)
            with tracer.span("lm.score.tokens_to_ids", tokens=len(flat)) as s:
                ids = tokens_to_ids(model, flat)
            m["score.idmap_s"] += Tracer.seconds(s)
            with tracer.span("lm.score.score_batch", tokens=len(flat)) as s:
                res = score_batch(model, ids, offsets)
            m["score.probe_s"] += Tracer.seconds(s)
            m["score.tokens"] += int(res["tokens"].sum())
            m["oov"] += int(res["oov"].sum())
    m["score.oov_frac"] = m.pop("oov") / max(m["score.tokens"], 1)
    return m


def model_layers(tracer: Tracer, paths: list[str]) -> dict:
    """lm.model / lm.arpa / lm.binary: load, pickled size and unpickle time
    (what a broadcast ships and each Python worker pays)."""
    from kenlm_rs_spark.lm.model import NGramModel

    m = {"model.load_s": 0.0, "model.ngrams": 0, "model.pickle_bytes": 0, "model.unpickle_s": 0.0}
    for path in paths:
        with tracer.span("lm.model.load", path=os.path.basename(path)) as s:
            model = NGramModel.load(path)
        m["model.load_s"] += Tracer.seconds(s)
        m["model.ngrams"] += int(sum(model.counts))
        blob = pickle.dumps(model, protocol=pickle.HIGHEST_PROTOCOL)
        m["model.pickle_bytes"] += len(blob)
        with tracer.span("lm.model.unpickle", bytes=len(blob)) as s:
            pickle.loads(blob)
        m["model.unpickle_s"] += Tracer.seconds(s)
    return m


# bases: every per-layer number is reported with the count it was taken over
BASES = {
    "extract.s": "docs", "scrub.s": "docs", "scrub.docs_changed": "docs",
    "quality.rules_s": "docs", "quality.thresholds_s": "docs", "quality.decide_s": "docs",
    "langid.s": "langid.docs",
    "score.split_s": "score.docs", "score.idmap_s": "score.tokens",
    "score.probe_s": "score.tokens", "score.oov_frac": "score.tokens",
    "model.load_s": "model.ngrams", "model.pickle_bytes": "model.ngrams",
    "model.unpickle_s": "model.pickle_bytes",
    "arrow.python_total_s": "arrow.nodes", "arrow.python_boot_s": "arrow.nodes",
    "arrow.python_init_s": "arrow.nodes", "arrow.sent_bytes": "docs",
    "arrow.received_bytes": "docs", "arrow.stage_s": "docs",
    "spark.stages": "spark.jobs", "spark.tasks": "spark.stages",
    "spark.executor_run_s": "spark.tasks", "spark.executor_cpu_s": "spark.executor_run_s",
    "spark.shuffle_read_bytes": "spark.tasks", "spark.shuffle_write_bytes": "spark.tasks",
    "lmplz.estimate_s": "lmplz.docs", "lmplz.ngrams": "lmplz.docs",
    "lmplz.arpa_bytes": "lmplz.ngrams",
    "filter_job.thresholds_s": "docs", "filter_job.chunk_s": "filter_job.chunks",
    "filter_job.exchange_s": "docs", "filter_job.write_bytes": "docs",
    "trace.call_s": "docs",
}


class Workload:
    name = ""
    pages_n = 0
    # full calls made and checked before the timed window, not timed
    warmup_calls = 0

    def __init__(self, root: str, data_dir: str, spark_k: int, seed: int):
        self.root, self.data_dir, self.k, self.seed = root, data_dir, spark_k, seed
        self.spark = None
        self.unavailable: dict[str, str] = {}

    def teardown(self, state) -> None:
        pass

    def zero(self, metrics: dict, names: list[str], reason: str) -> None:
        for n in names:
            metrics[n] = 0
            self.unavailable[n] = reason


# --------------------------------------------------------------- filter_pages


class FilterPages(Workload):
    """pipeline.filter_job.run_filter_job, default options, 4 chunks, over
    generated pages with the four fixture LMs; a fresh output dir per call."""

    name = "filter_pages"
    pages_n = 6000
    n_chunks = 4

    def prepare(self) -> None:
        from kenlm_rs_spark.lm.model import NGramModel

        self.pages_path = inputs.pages(self.root, self.data_dir, self.name, self.seed,
                                       self.pages_n, 2 * self.k)
        self.lm_dir = inputs.language_models(self.root, self.data_dir)
        self.input_urls = pq.read_table(self.pages_path, columns=["url"]).column("url").to_pylist()
        # in-process copies for the check, keyed as load_language_models keys them
        self.models = {f.rsplit(".", 1)[0]: NGramModel.load(os.path.join(self.lm_dir, f))
                       for f in sorted(os.listdir(self.lm_dir)) if f.endswith(".arpa")}

    def pages_df(self):
        return self.spark.read.parquet(self.pages_path).drop("row_id")

    def setup(self):
        """run_filter_job loads and broadcasts its models itself, inside the
        call; what comes before it is input readiness and Python workers
        that are up. One Arrow UDF pass over every page's text, with no
        broadcast, brings both."""
        from pyspark.sql import functions as F

        @F.pandas_udf("long")
        def text_len(s: pd.Series) -> pd.Series:
            return s.fillna("").str.len()

        self.pages_df().select(F.sum(text_len(F.col("text")))).collect()
        return {}

    def call(self, state, out: str) -> int:
        from kenlm_rs_spark.pipeline.filter_job import run_filter_job

        state["totals"] = run_filter_job(
            self.spark, self.pages_df(), out, self.lm_dir, n_chunks=self.n_chunks
        )
        return self.pages_n

    def read_output(self, out: str):
        return pq.read_table(
            out, columns=["url", "text_scrubbed", "lang_pred", "log10_prob", "tokens", "oov"]
        ).sort_by("url")

    def check(self, state, out: str):
        table = self.read_output(out)
        urls = table.column("url").to_pylist()
        missing = len(set(self.input_urls) - set(urls))
        extra = max(0, len(urls) - (len(self.input_urls) - missing))
        models = self.models
        default = next(iter(models))
        rows = [
            {**r, "text": r.pop("text_scrubbed")}
            for r in sample_rows(table, self.seed, CHECK_SAMPLE)
        ]
        bad = rescore_mismatches(rows, lambda r: models.get(r["lang_pred"], models[default]))
        detail = {"input_rows": len(self.input_urls), "output_rows": len(urls),
                  "missing": missing, "extra": extra, "rescored": len(rows),
                  "rescore_mismatches": len(bad), "examples": bad[:3],
                  "job_docs": state["totals"]["docs"]}
        return len(self.input_urls), missing + extra + len(bad), detail

    def trace(self, state, out: str, tracer: Tracer, call_s: float) -> dict:
        from pyspark.sql import functions as F

        from kenlm_rs_spark.pipeline.extract import extract_text_py, with_extracted_text
        from kenlm_rs_spark.pipeline.filter_job import load_language_models
        from kenlm_rs_spark.pipeline.langid import default_langid
        from kenlm_rs_spark.pipeline.quality import decide, ppl_thresholds, rule_columns, with_buckets
        from kenlm_rs_spark.pipeline.scrub import scrub_text
        from kenlm_rs_spark.spark.scoring import make_langid_score_udf

        m: dict = {}
        totals = state["totals"]
        # pipeline.filter_job: from the call's own markers
        markers = [json.load(open(os.path.join(out, f"_chunk_{c}.json"))) for c in range(self.n_chunks)]
        m["filter_job.thresholds_s"] = call_s - totals["wall_sec"]
        m["filter_job.chunk_s"] = totals["wall_sec"] / self.n_chunks
        m["filter_job.chunks"] = self.n_chunks
        m["filter_job.write_bytes"] = sum(f["bytes"] for mk in markers for f in mk["manifest"])
        with open(os.path.join(out, "_thresholds.json")) as f:
            thresholds = {k: tuple(v) for k, v in json.load(f).items()}

        # JVM layers: cumulative prefixes of the job's chunk plan to the noop
        # sink; each increment is charged to the layer it added
        bc_models = load_language_models(self.spark, self.lm_dir)
        bc_langid = self.spark.sparkContext.broadcast(default_langid())
        fused = make_langid_score_udf(bc_langid, bc_models)
        partitions = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        scan = self.pages_df()
        extracted = with_extracted_text(scan)
        exchanged = extracted.repartition(partitions, F.xxhash64("url"))
        scrubbed = exchanged.withColumn("text_scrubbed", scrub_text(F.col("text")))
        ruled = rule_columns(scrubbed, text_col="text_scrubbed")
        scored = (
            ruled.withColumn("ls", fused(F.col("text"), F.col("text_scrubbed")))
            .withColumn("lang_pred", F.col("ls.lang"))
            .withColumn("lang_conf", F.col("ls.lang_conf"))
            .select("*", "ls.log10_prob", "ls.tokens", "ls.oov", "ls.ppl")
            .drop("ls")
        )
        decided = decide(with_buckets(scored, thresholds, lang_col="lang_pred", ppl_col="ppl"))
        prefixes = [("scan", scan), ("extract", extracted), ("exchange", exchanged),
                    ("scrub", scrubbed), ("rules", ruled), ("fused_udf", scored),
                    ("decide", decided)]
        t: dict[str, float] = {}
        with tracer.span("prefix_plans"):
            for name, df in prefixes:
                with tracer.span(f"noop.{name}") as s:
                    df.write.format("noop").mode("overwrite").save()
                t[name] = Tracer.seconds(s)
        m["extract.s"] = t["extract"] - t["scan"]
        m["filter_job.exchange_s"] = t["exchange"] - t["extract"]
        m["scrub.s"] = t["scrub"] - t["exchange"]
        m["quality.rules_s"] = t["rules"] - t["scrub"]
        m["arrow.stage_s"] = t["fused_udf"] - t["rules"]
        m["quality.decide_s"] = t["decide"] - t["fused_udf"]
        with tracer.span("quality.ppl_thresholds") as s:
            ppl_thresholds(scored, lang_col="lang_pred", ppl_col="ppl", exact=False, rel_err=1e-4)
        m["quality.thresholds_s"] = Tracer.seconds(s)
        with tracer.span("scrub.docs_changed"):
            m["scrub.docs_changed"] = scrubbed.filter(
                F.col("text_scrubbed") != F.col("text")
            ).count()
        for bc in (bc_langid, *bc_models.values()):
            bc.unpersist(blocking=True)

        # pipeline.langid and lm.score in process, on this call's docs
        pages = pq.read_table(self.pages_path, columns=["url", "html", "text"]).sort_by("url")
        raw = [t if t is not None else extract_text_py(h)
               for h, t in zip(pages.column("html").to_pylist(), pages.column("text").to_pylist())]
        langid = default_langid()
        with tracer.span("langid.predict_batch", docs=len(raw)) as s:
            langid.predict_batch(raw)
        m["langid.s"], m["langid.docs"] = Tracer.seconds(s), len(raw)
        table = self.read_output(out)
        models = self.models
        default = next(iter(models))
        by_lang: dict[str, list[str]] = {}
        for lang, text in zip(table.column("lang_pred").to_pylist(),
                              table.column("text_scrubbed").to_pylist()):
            lang = lang if lang in models else default
            by_lang.setdefault(lang, []).append(text or "")
        m.update(kernel_layers(tracer, [(models[k], v) for k, v in sorted(by_lang.items())]))
        m["score.docs"] = table.num_rows
        m.update(model_layers(tracer, sorted(
            os.path.join(self.lm_dir, f) for f in os.listdir(self.lm_dir) if f.endswith(".arpa"))))
        self.zero(m, ["lmplz.estimate_s", "lmplz.ngrams", "lmplz.arpa_bytes",
                      "lmplz.persisted_rdds_after"], "filter_pages does not call builder.lmplz")
        return m


# -------------------------------------------------------------- score_big_lm


class ScoreBigLM(Workload):
    """spark.scoring.score_with_model over the generator's non-null text with
    one order-5 LM of >= 10^6 n-grams, written to a fresh parquet dir."""

    name = "score_big_lm"
    pages_n = 20000
    # the first full calls run 20-40% slower than the later ones and the
    # JVM heap is still growing; two cost ~5 s here (filter_pages makes none:
    # its one call costs 20-35 s, and the run budget cannot pay for a second)
    warmup_calls = 2
    lmplz_docs = 500  # traced run: estimate an order-3 model from this many docs

    def prepare(self) -> None:
        self.model_path, _ = inputs.big_model(self.root, self.data_dir, self.k)
        self.pages_path = inputs.pages(self.root, self.data_dir, self.name, self.seed,
                                       self.pages_n, 2 * self.k)
        table = pq.read_table(self.pages_path, columns=["row_id", "text"])
        keep = [t is not None for t in table.column("text").to_pylist()]
        self.inputs = table.filter(keep).sort_by("row_id")

    def texts_df(self):
        from pyspark.sql import functions as F

        return (self.spark.read.parquet(self.pages_path).select("row_id", "text")
                .filter(F.col("text").isNotNull()))

    def setup(self):
        from kenlm_rs_spark.lm.model import NGramModel
        from kenlm_rs_spark.spark.scoring import broadcast_model, score_with_model

        model = NGramModel.load(self.model_path)
        bc = broadcast_model(self.spark, model)
        warm = score_with_model(self.texts_df().limit(64 * self.k).repartition(self.k), bc)
        warm.select("row_id", "lm.ppl").collect()
        return {"bc": bc, "model": model}

    def teardown(self, state) -> None:
        state["bc"].unpersist(blocking=True)

    def call(self, state, out: str) -> int:
        from kenlm_rs_spark.spark.scoring import score_with_model

        (score_with_model(self.texts_df(), state["bc"])
         .select("row_id", "lm.log10_prob", "lm.tokens", "lm.oov", "lm.ppl")
         .write.parquet(out))
        return self.inputs.num_rows

    def check(self, state, out: str):
        table = pq.read_table(out).sort_by("row_id")
        want = self.inputs.column("row_id").to_pylist()
        got = table.column("row_id").to_pylist()
        missing = len(set(want) - set(got))
        extra = max(0, len(got) - (len(want) - missing))
        text_of = dict(zip(want, self.inputs.column("text").to_pylist()))
        rows = [{**r, "text": text_of.get(r["row_id"])}
                for r in sample_rows(table, self.seed, CHECK_SAMPLE)]
        bad = rescore_mismatches(rows, lambda r: state["model"])
        detail = {"input_rows": len(want), "output_rows": len(got), "missing": missing,
                  "extra": extra, "rescored": len(rows), "rescore_mismatches": len(bad),
                  "examples": bad[:3]}
        return len(want), missing + extra + len(bad), detail

    def trace(self, state, out: str, tracer: Tracer, call_s: float) -> dict:
        from kenlm_rs_spark.builder.lmplz import estimate_arpa_to_path

        m: dict = {}
        texts = self.inputs.column("text").to_pylist()
        m.update(kernel_layers(tracer, [(state["model"], texts)]))
        m["score.docs"] = len(texts)
        m.update(model_layers(tracer, [self.model_path]))

        # builder.lmplz: the write side of the lm layer, on a slice of the
        # same docs, from a cleared cache
        clear_spark_cache(self.spark)
        df = self.spark.createDataFrame(pd.DataFrame({"text": texts[: self.lmplz_docs]}))
        arpa = os.path.join(self.data_dir, "tmp", "trace-lmplz.arpa")
        with tracer.span("lmplz.estimate_arpa_to_path", docs=self.lmplz_docs) as s:
            counts = estimate_arpa_to_path(df, arpa, order=3)
        m["lmplz.estimate_s"] = Tracer.seconds(s)
        m["lmplz.docs"] = self.lmplz_docs
        m["lmplz.ngrams"] = sum(counts.values())
        m["lmplz.arpa_bytes"] = os.path.getsize(arpa)
        m["lmplz.persisted_rdds_after"] = persisted_rdd_count(self.spark.sparkContext)
        os.remove(arpa)
        clear_spark_cache(self.spark)

        reason = "score_big_lm scores raw text: no {} stage runs"
        self.zero(m, ["extract.s"], reason.format("extraction"))
        self.zero(m, ["scrub.s", "scrub.docs_changed"], reason.format("scrub"))
        self.zero(m, ["quality.rules_s", "quality.thresholds_s", "quality.decide_s"],
                  reason.format("quality"))
        self.zero(m, ["langid.s", "langid.docs"], reason.format("langid"))
        self.zero(m, ["filter_job.thresholds_s", "filter_job.chunk_s", "filter_job.exchange_s",
                      "filter_job.write_bytes", "arrow.stage_s"], reason.format("filter_job"))
        return m


WORKLOADS = {w.name: w for w in (FilterPages, ScoreBigLM)}
