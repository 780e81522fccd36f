"""Build the big LM the score_big_lm workload scores with.

    python3 perfbench/build_model.py <repo root> <data dir> <out dir> <K>

Estimates an order-5 ARPA with ``builder.lmplz.estimate_arpa_to_path`` from
the text of generated pages ``[0, MODEL_ROWS)`` at local[K], converts it to
a KenLM probing binary (the format deployments ship) and writes
``model.bin`` plus ``meta.json`` (per-order counts and build times) to
<out dir>. Fails if the model has fewer than MODEL_MIN_NGRAMS n-grams.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(root: str, data_dir: str, out: str, k: int) -> None:
    sys.path.insert(0, root)
    import pandas as pd

    from harness import clear_spark_cache, start_spark, stop_spark
    from inputs import MODEL_MIN_NGRAMS, MODEL_ORDER, MODEL_ROWS
    from kenlm_rs_spark.builder.lmplz import estimate_arpa_to_path
    from kenlm_rs_spark.lm.arpa import read_arpa
    from kenlm_rs_spark.lm.binwrite import write_probing
    from kenlm_rs_spark.pipeline.corpus import generate_row

    texts = [t for t in (generate_row(i)["text"] for i in range(MODEL_ROWS)) if t is not None]
    # the order-5 suffix-join plan needs more driver heap than scoring
    spark = start_spark(data_dir, k, driver_memory="4g")
    try:
        df = spark.createDataFrame(pd.DataFrame({"text": texts})).repartition(2 * k)
        arpa = os.path.join(out, "model.arpa")
        t0 = time.perf_counter()
        counts = estimate_arpa_to_path(df, arpa, order=MODEL_ORDER)
        estimate_s = time.perf_counter() - t0
        clear_spark_cache(spark)
    finally:
        stop_spark(spark)
    ngrams = sum(counts.values())
    if ngrams < MODEL_MIN_NGRAMS:
        raise SystemExit(f"big LM has {ngrams} n-grams, fewer than {MODEL_MIN_NGRAMS}")
    t0 = time.perf_counter()
    write_probing(read_arpa(arpa), os.path.join(out, "model.bin"))
    binary_s = time.perf_counter() - t0
    meta = {
        "rows": MODEL_ROWS,
        "texts": len(texts),
        "order": MODEL_ORDER,
        "counts": {str(n): c for n, c in sorted(counts.items())},
        "ngrams": ngrams,
        "estimate_s": estimate_s,
        "binary_s": binary_s,
        "arpa_bytes": os.path.getsize(arpa),
        "bin_bytes": os.path.getsize(os.path.join(out, "model.bin")),
    }
    os.remove(arpa)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4]))
