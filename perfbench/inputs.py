"""Seeded inputs, cached under the benchmark's data directory.

Pages come from ``kenlm_rs_spark.pipeline.corpus.generate_row``, a pure
function of ``row_id``. A workload of ``n`` pages run with seed ``s`` reads
the row window ``[MODEL_ROWS + (s mod SEED_SLOTS) * n, ... + n)``, so every
seed sees the same stratum mix and a window never overlaps the rows the big
LM was estimated from (``[0, MODEL_ROWS)``). The big LM depends on no seed:
estimating it takes minutes, so it is built once per checkout and shared.
Every cache key carries a hash of the package sources that produce it (of
the files themselves for the copied fixture LMs), so a change to the
generator, to the model builder and writer or to a fixture forces a rebuild.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# row ids [0, MODEL_ROWS) train the big LM: order 5, >= 10^6 n-grams
MODEL_ROWS = 4600
MODEL_ORDER = 5
MODEL_MIN_NGRAMS = 1_000_000
# seeds map to window slots; keeps warc_ts (base + row_id seconds) in range
SEED_SLOTS = 100_003

# package sources each cache is built by (relative to kenlm_rs_spark/)
PAGES_SOURCES = ("pipeline/corpus.py",)
MODEL_SOURCES = PAGES_SOURCES + (
    "builder/lmplz.py", "ops/textstats.py", "lm/arpa.py", "lm/binwrite.py",
    "lm/headers.py", "lm/murmur.py",
)

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("row_id", pa.int64()),
    ]
)


def window(seed: int, n: int) -> range:
    start = MODEL_ROWS + (seed % SEED_SLOTS) * n
    return range(start, start + n)


def source_hash(base: str, sources: tuple[str, ...]) -> str:
    h = hashlib.sha1()
    for rel in sources:
        with open(os.path.join(base, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


def _publish(tmp: str, final: str) -> None:
    if os.path.exists(final):
        shutil.rmtree(final)
    os.replace(tmp, final)


def pages(root: str, data_dir: str, workload: str, seed: int, n: int, files: int) -> str:
    """Parquet directory of the seed's ``n`` generated pages in ``files``
    files (one scan partition each); built once per (workload, seed, n) and
    generator source."""
    from kenlm_rs_spark.pipeline.corpus import generate_row

    key = source_hash(os.path.join(root, "kenlm_rs_spark"), PAGES_SOURCES)
    final = os.path.join(data_dir, "cache", f"pages-{workload}-s{seed}-n{n}-{key}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = window(seed, n)
    pdf = pd.DataFrame([generate_row(i) for i in rows])
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    for f in range(files):
        part = pdf.iloc[f * n // files : (f + 1) * n // files]
        pq.write_table(
            pa.Table.from_pandas(part, schema=PAGES_SCHEMA, preserve_index=False),
            os.path.join(tmp, f"part-{f:03d}.parquet"),
            coerce_timestamps="us",
        )
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    _publish(tmp, final)
    return final


def language_models(root: str, data_dir: str) -> str:
    """The four per-language fixture models (de, en, fr, xx) in a directory
    of their own, as ``run_filter_job`` loads every model in its lm_dir;
    keyed on their contents."""
    fixtures = os.path.join(root, "fixtures", "lms")
    files = ("de.arpa", "en.arpa", "fr.arpa", "xx.arpa")
    final = os.path.join(data_dir, "cache", f"lms-{source_hash(fixtures, files)}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name in files:
        shutil.copyfile(os.path.join(fixtures, name), os.path.join(tmp, name))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    _publish(tmp, final)
    return final


def big_model(root: str, data_dir: str, k: int) -> tuple[str, dict]:
    """Path of the big order-5 LM (KenLM probing binary) and its build
    record. Built by ``build_model.py`` in a child process the first time
    for these sources."""
    key = source_hash(os.path.join(root, "kenlm_rs_spark"), MODEL_SOURCES)
    final = os.path.join(data_dir, "cache", f"big-lm-r{MODEL_ROWS}-o{MODEL_ORDER}-{key}")
    meta_path = os.path.join(final, "meta.json")
    if not os.path.exists(meta_path):
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        print(f"building the big LM into {final} (once per checkout)", file=sys.stderr)
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "build_model.py"),
             root, data_dir, tmp, str(k)],
            check=True,
        )
        print(f"big LM built in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
        _publish(tmp, final)
    with open(meta_path) as f:
        return os.path.join(final, "model.bin"), json.load(f)
