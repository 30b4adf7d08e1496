"""Central query/oracle registry assembled from operator modules.

``__spark_entry__.py`` re-exports these; operator modules each contribute a
``QUERIES`` dict (name → callable(spark, sf_dir) → DataFrame) and an
``ORACLE`` dict (name → DuckDB SQL). Queries without an oracle entry get the
driver's weaker rows-only check (reserved for genuinely non-SQL-expressible
ops, e.g. stateful streaming).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from us_flight_bigdata_dashboard_spark.operators import (
    adpcm_codec,
    advanced,
    audit,
    bmp_codec,
    breadth,
    decision,
    dedup,
    evaluation,
    events,
    flac_codec,
    g711_codec,
    gif_codec,
    graph,
    inference,
    jpeg_codec,
    mjpeg_codec,
    pframe_codec,
    qoi_codec,
    tga_codec,
    layout,
    multimodal,
    mutation,
    relational,
    sampling,
    similarity,
    sketches,
    statistics,
    tar_shards,
    temporal,
    text,
    tsblock_codec,
    zip_archive,
)
from us_flight_bigdata_dashboard_spark.streaming import replay

_MODULES = [
    relational,
    decision,
    text,
    replay,
    temporal,
    dedup,
    sampling,
    similarity,
    events,
    multimodal,
    jpeg_codec,
    flac_codec,
    gif_codec,
    bmp_codec,
    mjpeg_codec,
    g711_codec,
    adpcm_codec,
    pframe_codec,
    qoi_codec,
    tga_codec,
    advanced,
    breadth,
    mutation,
    tar_shards,
    zip_archive,
    tsblock_codec,
    audit,
    layout,
    graph,
    statistics,
    inference,
    sketches,
    evaluation,
]

# Budget-capped graders evaluate a PREFIX of the registry (at most 50
# entries), so the entries that most need checking run first; the rest
# follow in stable module order (``_ordered``). The prefix holds every entry
# whose query function changed after it last passed the driver's compare
# (CORRECTNESS_r*.json), plus two decoders whose Python workers were
# rewritten without their query functions changing.
_FLAGSHIP_PREFIX = [
    # --- query function edited since its last check (48, alphabetical) ---
    "abc_pareto_class",
    "abc_xyz_grid",
    "anderson_darling_two",
    "ansari_bradley_scale",
    "auc_delong_se",
    "brunner_munzel_test",
    "cliffs_delta_effect",
    "conover_squared_ranks",
    "cramer_von_mises_two",
    "cucconi_test",
    "customer_migration_matrix",
    "customer_rfm_segments",
    "cuzick_trend_test",
    "embedding_triplet_violations",
    "events_activity_concentration",
    "events_time_to_convert",
    "fs_record_linkage",
    "gini_revenue",
    "histogram_equifreq",
    "hosmer_lemeshow",
    "jonckheere_terpstra",
    "kruskal_wallis",
    "ks_two_sample",
    "kuiper_two_sample",
    "lepage_test",
    "lorenz_curve_deciles",
    "mann_whitney_u",
    "mood_median_test",
    "mood_scale_test",
    "odds_ratio_binning",
    "pareto_skyline_suppliers",
    "pps_systematic_sample",
    "qq_shift_deciles",
    "quantile_normalize_deciles",
    "reorder_interval",
    "sample_systematic",
    "sdr_variance_estimate",
    "sequence_gap_audit",
    "skew_profile",
    "spearman_corr",
    "text_burstiness_fano",
    "text_gries_dp",
    "text_rarity_score",
    "text_vocab_encode",
    "text_zipf_rankfreq",
    "trimmed_mean",
    "wasserstein_two_sample",
    "yuen_trimmed_ttest",
    # --- decoders with rewritten workers (2) ---
    "multimodal_flac_decode",
    "multimodal_jpeg_decode",
]



def _ordered(raw: dict) -> dict:
    missing = [n for n in _FLAGSHIP_PREFIX if n not in raw]
    if missing:
        raise ValueError(f"flagship entries missing from registry: {missing}")
    out = {name: raw[name] for name in _FLAGSHIP_PREFIX}
    out.update({name: fn for name, fn in raw.items() if name not in out})
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        overlap = out.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names from {mod.__name__}: {overlap}")
        out.update(mod.QUERIES)
    return _ordered(out)


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        overlap = out.keys() & mod.ORACLE.keys()
        if overlap:
            raise ValueError(f"duplicate oracle names from {mod.__name__}: {overlap}")
        out.update(mod.ORACLE)
    return _ordered(out)
