"""Session-profile gates that no query result can show."""

from __future__ import annotations

from aws_etl_fiap_spark.queries import REGISTRY
from aws_etl_fiap_spark.session import codegen_compiles

# Four llm_curation operators whose plans together generate ~300 distinct
# classes: three times Spark's default codegen cache of 100 entries.
WARM_SET = (
    "corpus_curation_funnel",
    "dedup_cluster_canonical",
    "basket_brand_pairs_lift",
    "text_bpe_encode",
)


def test_warm_rerun_compiles_no_new_classes(spark, sf_smoke):
    """A second run of the same queries in one session must find their
    generated classes in the codegen cache.  At a cap of 100 entries the
    second run recompiles ~280 classes.  The bound leaves room for the few
    plan variants a rerun can generate (0-12 classes measured here, 10 from
    one query): the cache is full by the time this test runs, because the
    tests before it compile more than 5,000 classes, so each variant also
    evicts one entry.  No minimum is asserted for the first run: earlier
    tests share this session and may already have compiled these
    classes."""

    def run_all():
        for name in WARM_SET:
            REGISTRY[name].spark(spark, sf_smoke).count()

    run_all()
    before = codegen_compiles(spark)
    run_all()
    recompiled = codegen_compiles(spark) - before
    assert recompiled <= 30, f"warm rerun compiled {recompiled} classes"
