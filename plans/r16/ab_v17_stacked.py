"""Alternating same-session A/B: v17/v23 stacked rank tail (r16) vs the
r15 per-encoding twin-tail form, reconstructed inline from the same
building blocks (_pq_topk_plan + _recall_agg still exist for
v12/v14/v16 etc.).  Noop-sink timings per guide §1.4; alternation per
the r15 host-noise discipline.  Also asserts result equality once per
variant pair before timing.

Usage: python plans/r16/ab_v17_stacked.py [n_samples]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from pyspark.sql import functions as F  # noqa: E402

from fifteenmc_spark.operators import similarity as S  # noqa: E402
from fifteenmc_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N = int(sys.argv[1]) if len(sys.argv) > 1 else 7


def old_form(spark, quant):
    """The r15 shape: two complete rank tails, one per encoding."""
    exact = S._exact_topk_v12(spark, SF_DIR).select("qid", "vec_id")
    out = None
    for enc, res in (("raw", False), ("residual", True)):
        r = S._recall_agg(
            exact,
            S._pq_topk_plan(spark, SF_DIR, S.V12_NQ, residual=res, quant=quant),
        ).select("qid", F.lit(enc).alias("encoding"), "n_topk", "n_recovered", "recall")
        out = r if out is None else out.unionByName(r)
    return out.orderBy("qid", "encoding")


def new_form(spark, quant):
    return S._encoding_recall_plan(spark, SF_DIR, quant)


def timed(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    spark = get_spark(app_name="ab-v17-stacked")
    for quant, label in ((S.SEED_Q, "v17"), (S.TRAINED_Q, "v23")):
        old_rows = sorted(map(tuple, old_form(spark, quant).collect()))
        new_rows = sorted(map(tuple, new_form(spark, quant).collect()))
        assert old_rows == new_rows, f"{label}: result mismatch ({len(old_rows)} vs {len(new_rows)})"
        print(f"{label}: equality OK ({len(old_rows)} rows)")
        # warm both plans once untimed
        timed(old_form(spark, quant))
        timed(new_form(spark, quant))
        olds, news = [], []
        for i in range(N):
            spark.sparkContext.setJobDescription(f"{label} old #{i}")
            olds.append(timed(old_form(spark, quant)))
            spark.sparkContext.setJobDescription(f"{label} new #{i}")
            news.append(timed(new_form(spark, quant)))
        spark.sparkContext.setJobDescription(None)
        med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
        print(
            f"{label} OLD (twin tails): min={min(olds):.3f} med={med(olds):.3f} all={[round(x,3) for x in olds]}"
        )
        print(
            f"{label} NEW (stacked):    min={min(news):.3f} med={med(news):.3f} all={[round(x,3) for x in news]}"
        )


if __name__ == "__main__":
    main()
