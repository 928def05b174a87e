"""Build the bench's amplified sf1-equivalent corpus at a PERSISTENT path.

The bench's run_sf1_scaling fabricates a 10x constant-dup-density corpus in
a temp dir and deletes it; optimization A/Bs need the same corpus to live
across sessions so old/new query forms can be timed against identical
bytes. This writes documents.parquet + embeddings.parquet with
amplify_documents (the function the bench calls), plus orders/events
copies and symlinks for the remaining sf0.1 tables so registry queries that
read lineitem/orders/etc. still resolve.

    PYTHONPATH=/root/repo python tools/sf1_corpus.py /tmp/bcs_sf1_ab

Scratch-only: nothing here feeds bench numbers or query results.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_COPIES = 10


def amplify_documents(spark, sf_dir: str, out_dir: str) -> None:
    """Write documents.parquet and embeddings.parquet under ``out_dir`` as
    N_COPIES replicas of the ``sf_dir`` tables (doc_id/vec_id offset by
    copy * 1_000_000).

    Constant dup DENSITY, like a real bigger corpus: copy 0 is the
    original, copy 1 an exact dup (10% exact-dup rate), copies 2-9 mutate
    every 3rd token with a copy-specific suffix — cross-copy cosine/Jaccard
    drops below near-dup thresholds, so the true near-dup pair count grows
    LINEARLY with the corpus. (Naive prefix-only mutation gives every doc 9
    genuine near-twins; the output itself is then quadratic and the probe
    can't distinguish algorithmic blowup from output growth.)
    """
    from pyspark.sql import functions as F

    from better_cdc_spark.io import load_table

    copies = spark.range(N_COPIES).select(F.col("id").alias("copy"))
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    mutated = F.array_join(
        F.zip_with(
            toks,
            F.sequence(F.lit(1), F.size(toks)),
            lambda w, i: F.when(
                (i + F.col("copy")) % 3 == 0,
                F.concat(w, F.lit("x"), F.col("copy").cast("string")),
            ).otherwise(w),
        ),
        " ",
    )
    amplified = (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("copy") * 1_000_000).alias("doc_id"),
            F.when(F.col("copy") <= 1, F.col("text")).otherwise(mutated).alias("text"),
            "lang",
            "source",
            "n_chars",
            "copy",
        )
        .drop("copy")
    )
    amplified.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    # embeddings, same constant-density scheme (q96d/q94d read them):
    # copy 1 is an exact dup, copies 2-9 perturb one copy-dependent
    # dimension so cross-copy cosine leaves near-dup range
    emb = load_table(spark, sf_dir, "embeddings")
    emb_amp = (
        emb.crossJoin(copies)
        .select(
            (F.col("vec_id") + F.col("copy") * 1_000_000).alias("vec_id"),
            F.when(F.col("copy") <= 1, F.col("embedding"))
            .otherwise(
                F.transform(
                    F.col("embedding"),
                    lambda x, i: F.when(
                        i == F.col("copy") % 64,
                        x + (F.lit(0.5) + F.col("copy") * 0.125).cast("float"),
                    ).otherwise(x),
                )
            )
            .alias("embedding"),
            "label",
        )
    )
    emb_amp.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )


def main() -> int:
    from pyspark.sql import functions as F

    from better_cdc_spark.io import load_table
    from better_cdc_spark.session import get_spark

    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bcs_sf1_ab"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("sf1-corpus")

    amplify_documents(spark, sf_dir, out_dir)

    # orders ×10 (distinct keys per copy) — for the qc01 changelog A/B
    orders = load_table(spark, sf_dir, "orders")
    orders_amp = orders.crossJoin(
        spark.range(N_COPIES).select(F.col("id").alias("copy"))
    ).select(
        (F.col("o_orderkey") + F.col("copy") * 100_000_000).alias("o_orderkey"),
        *[c for c in orders.columns if c != "o_orderkey"],
    ).drop("copy")
    orders_amp.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/orders.parquet"
    )

    # events ×10 (distinct users/events per copy) — for the q48 bitmap A/B
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    events_amp = events.crossJoin(
        spark.range(N_COPIES).select(F.col("id").alias("copy"))
    ).select(
        *[
            (F.col("user_id") + F.col("copy") * 10_000_000).alias("user_id")
            if c == "user_id"
            else F.concat(F.col("event_id"), F.lit("-"), F.col("copy")).alias("event_id")
            if c == "event_id"
            else c
            for c in events.columns
        ],
    ).drop("copy")
    events_amp.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/events.parquet"
    )

    # symlink every other sf0.1 table so non-document queries resolve
    for entry in os.listdir(sf_dir):
        src = os.path.join(sf_dir, entry)
        dst = os.path.join(out_dir, entry)
        if (
            entry.startswith(("documents", "embeddings", "orders", "events"))
            or os.path.exists(dst)
        ):
            continue
        os.symlink(src, dst)
    print(f"sf1 corpus ready at {out_dir}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
