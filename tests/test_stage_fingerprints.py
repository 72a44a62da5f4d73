"""The stage fingerprints of the three staged pipelines, pinned as literal
hex strings.

A stage's fingerprint is sha256(parent : name : params : code version),
and its parent is the fingerprints of the tables it reads, joined in
order. None of it depends on data, so tiny inputs pin the whole chain: a
change to how any pipeline wires its stages (a parent, a name, a params
string) changes a value below, and every output directory built before
it would rebuild instead of skipping.
"""

from pyspark.sql import functions as F

from darkbo_spark.kg.incremental import REFRESH_TABLES, refresh
from darkbo_spark.kg.pages import entity_dictionary_df, synth_pages
from darkbo_spark.kg.pipeline import run_pipeline
from darkbo_spark.queries.domain_queries import _DOC_URL_SQL
from darkbo_spark.training.pipeline import run_training_pipeline

KG_FPS = {
    "docs":
        "74e38a5cbbb07615585373a27c076ce888a26ba4025ecc257298465659dc9f3e",
    "raw_triples":
        "6a1e80c108750adab058aedd57f8eeb1e038fcbe8fc37e1584d3329d98b2783d",
    "eid_map":
        "795eaa048563f2133b630b4f661b91f045698656f31493a0da16254e465dfb97",
    "kg_entities":
        "56c1b3cd3c897aa280431f589ceaffc4d62e236c6d9385a1cbcd45e072c01fe4",
    "kg_triples":
        "c5ac4d425396e0b0f4bee8ca7db4271c6786e551ab29c4dbabd511af5aa9c8d0",
    "kg_nil_candidates":
        "d1c223d176c457cb1e59d018994e4413d84125f2ae7c0914356ca1fd01a54e5c",
    "kg_fact_history":
        "ad9c9cf8984b4b2c1af5855f4275de2561a6cc471f5c5e6fb2a1ac341e0ee252",
    "kg_facts":
        "0b4a3543ac8ff866951e46274333993a8c5bbe873cd4e1ba5f6cbb9b0b782d5e",
    "kg_conflicts":
        "e32fd45b181bc6f297bb3c7837cf561befbb43c8ed85d074993da315e940d4f3",
    "kg_entity_types":
        "d033f28595a5db2b029691df5331c0c3b8d20f32601734d20654ffda9d062ad4",
    "kg_entity_profiles":
        "fe5c6d26b97c566324a2dce19655583d0797ab05eeef1bd58a0eebf916449c18",
}

REFRESH_FPS = {
    "live_triples":
        "47b65de87085d128ce198c4013a0f1f194727e8611f8857f7d32c5ad8beb4603",
    "fact_envelopes":
        "5ceb2b93a951ccf7753c60315bad602248804878d9b2222fa4b80f57fcbe9baa",
    "facts":
        "13ab1673279e8438da268bc8ef24d6e89deb8701d4e9146d0826de5b7896fe4f",
}

TRAINING_FPS = {
    "gated":
        "e60fa33c539abab4416f3962739d4fd68a5120cea4e4a894caf8c99ee5d757ca",
    "deduped":
        "a35eefcbea14f39b09d63c350261e9e2a80749906b94cc8f00e674140c766e26",
    "capped":
        "b94a117f17b83c0e0cbd41a3b1c6c6d0483e369daa37fe08565bfa55400bcc37",
    "sampled":
        "27a9f2b6d04240fcd819885d38c4beef10ba44eb632907e0aedd0018eb140b8d",
    "packed":
        "ec001079a6bac64c134e857a5c0f13920e345a7dc31f1be30100ba4db48b020f",
}


def _fps(res) -> dict:
    return {n: t.current_fingerprint() for n, t in res.tables.items()}


def test_kg_build_fingerprints(spark, tmp_path):
    res = run_pipeline(
        spark, str(tmp_path / "kg"), n_pages=12, seed=1,
        facts_asof="2024-01-02", mine_nil=True,
    )
    assert sorted(res.stages_run) == sorted(KG_FPS)
    assert _fps(res) == KG_FPS


def test_refresh_fingerprints(spark, tmp_path):
    pages = synth_pages(spark, 6, seed=2, columns=["url", "warc_ts", "text", "lang"])
    res = refresh(spark, str(tmp_path / "live"), pages,
                  entity_dictionary_df(spark), "cycle-pin")
    assert res.stages_run == list(REFRESH_TABLES)
    assert _fps(res) == REFRESH_FPS


def test_training_fingerprints(spark, tmp_path, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "n_chars"
    ).limit(50)
    res = run_training_pipeline(
        spark, str(tmp_path / "tp"), docs, "docs-pin", F.expr(_DOC_URL_SQL),
        "docurl-v1",
    )
    assert res.stages_run == list(TRAINING_FPS)
    assert _fps(res) == TRAINING_FPS
