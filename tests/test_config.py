import pytest

from app_dupfind_spark.config import DedupConfig


def test_default_config_valid():
    c = DedupConfig()
    assert c.num_perm == c.lsh_bands * c.lsh_rows
    assert c.config_hash() == DedupConfig().config_hash()


def test_config_fields_are_the_run_identity():
    # num_perm is derived from the banding, and the barrier follows
    # the master: neither is a field, so neither moves the config hash
    import dataclasses

    assert len(dataclasses.fields(DedupConfig)) == 16
    assert DedupConfig().num_perm == 128
    assert DedupConfig(lsh_bands=8, lsh_rows=2).num_perm == 16


def test_config_hash_changes_with_params():
    assert (
        DedupConfig().config_hash()
        != DedupConfig(jaccard_threshold=0.9).config_hash()
    )


def test_unknown_weed_pass_dies_at_plan_time():
    # reference parity: Guts.pm:62-63 dies on unknown --wpass name
    with pytest.raises(ValueError, match="unknown weed pass"):
        DedupConfig(weed_passes=("first", "nope"))


def test_weed_pass_ordering_is_part_of_identity():
    a = DedupConfig(weed_passes=("first", "last"))
    b = DedupConfig(weed_passes=("last", "first"))
    assert a.config_hash() != b.config_hash()


def test_cli_empty_weed_passes_skips_weeding(spark, pages):
    # reference --weedout no is an empty pass list; weeding is a pure
    # optimization, so the clusters must not change
    from app_dupfind_spark.operators.exact import exact_dup_clusters
    from jobs.run_pipeline import parse_config

    cfg = parse_config(["weed_passes="])
    assert cfg.weed_passes == ()

    def clusters(c):
        rows = exact_dup_clusters(pages, c).select("url", "cluster_id").collect()
        return sorted(map(tuple, rows))

    assert clusters(cfg) == clusters(DedupConfig())


@pytest.mark.parametrize(
    "kv",
    [
        "lsh_pair_strategy=arrays",
        "salt_buckets=16",
        "simhash_bits=64",
        "weed_enabled=false",
        "est_clear_margin=0.2",
        "verify_mode=estimate",
        "shuffle_partitions=8",
        "barrier_strategy=reliable",
        "num_perm=128",
    ],
)
def test_cli_rejects_removed_fields(kv):
    from jobs.run_pipeline import parse_config

    with pytest.raises(AttributeError):
        parse_config([kv])
