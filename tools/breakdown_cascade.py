"""Per-stage wall-time breakdown of the five-stage curation cascade.

Times each stage of corpus_curation_extended / curation_yield_report
standalone via the noop sink (median of N), plus the assembled
compositions, so the 9-second composition keys decompose into their
stage costs.  Usage: python tools/breakdown_cascade.py [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from maap_data_pipelines_spark.operators import curation, dedup, text  # noqa: E402
from maap_data_pipelines_spark.plans import llm  # noqa: E402
from maap_data_pipelines_spark.session import get_spark, last_job_id  # noqa: E402
from maap_data_pipelines_spark.sources.catalog import fan_out, read_table  # noqa: E402

SF = "/root/testdata/sf0.1"


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark("cascade-breakdown")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def docs():
        return fan_out(read_table(spark, SF, "documents"))

    stages = {
        "quality_filter": lambda: text.quality_filter(docs()),
        "dedup_exact": lambda: dedup.dedup_exact(docs()),
        "minhash_ge05": lambda: dedup.dedup_minhash_lsh(docs()).filter(
            F.col("est_jaccard") >= 0.5
        ),
        "containment": lambda: dedup.dedup_containment(docs()),
        "novelty": lambda: curation.doc_ngram_novelty(docs()),
        "toks_count": lambda: docs().select(
            "doc_id",
            (F.size(F.split(F.lower(F.col("text")), " "))).cast("long").alias(
                "n_tokens"
            ),
        ),
        "corpus_curation": lambda: llm.QUERIES["corpus_curation"](spark, SF),
        "corpus_curation_extended": lambda: llm.QUERIES[
            "corpus_curation_extended"
        ](spark, SF),
        "curation_yield_report": lambda: llm.QUERIES["curation_yield_report"](
            spark, SF
        ),
    }
    # warmup
    stages["dedup_exact"]().write.format("noop").mode("overwrite").save()
    for name, build in stages.items():
        walls, jobs = [], []
        for _ in range(reps):
            spark.catalog.clearCache()
            n0 = last_job_id(spark)
            t0 = time.time()
            sc.setJobDescription(f"breakdown:{name}")
            build().write.format("noop").mode("overwrite").save()
            walls.append(time.time() - t0)
            jobs.append(last_job_id(spark) - n0)
        walls.sort()
        med = walls[len(walls) // 2]
        print(
            f"{name}: median={med:.2f}s jobs={jobs[-1]}"
            f" runs={[round(x, 2) for x in walls]}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
