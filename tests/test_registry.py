"""The query registry's key order is a contract: consumers snapshot
its first entries, so a refactor of the registry must keep it."""

import __spark_entry__ as entry
from mobilitydb_spark import queries

REGISTRY_KEYS = [
    "pip_grid_join", "traj_metrics", "value_at_timestamp", "twavg",
    "traj_extent", "minhash_dedup", "langid", "simhash_pairs",
    "ann_lsh_topk", "traj_ever_in_box", "pip_shuffle_join", "tagg_tcount",
    "tagg_tcount_seq", "tile_pyramid", "dwithin_join", "knn_points",
    "tile_raster", "rolling_fp", "ann_ivf_topk", "tcentroid_profile",
    "azimuth_cumlen", "ttext_states", "traj3d_metrics", "geog_dwithin_join",
    "at_period_clip", "period_business", "wcount_probe", "tagg_profile",
    "at_box", "tdwithin_pairs", "nad_pairs", "lifted_pairs", "sessionize",
    "pip_jvm_join", "tbool_tand_tor", "posops_boxes", "relate_rect",
    "timeops_matrix", "tmath_turning", "traj_accessors", "casts_tbox",
    "at_range_clip", "cosine_dedup", "cosine_neardup_lsh", "interval_join",
    "trajectory_wkt", "spatial_rels_rect", "cosine_neardup_banded",
    "nad_line", "multimodal_features", "tpch_q1", "top_customers",
    "dedup_exact", "doc_stats", "fingerprint_md5", "events_hourly",
    "geo_cells_tiles", "knn_cosine_brute", "mercator_transform",
    "doc_quality", "wsum_probe",
]


def test_registry_key_order_is_pinned():
    assert len(REGISTRY_KEYS) == 61
    assert list(queries.registry()) == REGISTRY_KEYS


def test_every_entry_is_a_query_and_an_oracle():
    for name, (fn, sql) in queries.registry().items():
        assert callable(fn), name
        assert isinstance(sql, str) and sql.strip(), name


def test_every_query_has_an_oracle():
    assert set(entry.queries()) == set(entry.oracle_sql())
