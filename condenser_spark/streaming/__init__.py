from condenser_spark.streaming.neardup import (
    build_minhash_band_index,
    dedup_batch_against_corpus,
    minhash_near_pairs_stream,
)
from condenser_spark.streaming.sessionize import (
    sessionize,
    sessionize_stream,
    windowed_event_counts,
    windowed_event_counts_stream,
)
from condenser_spark.streaming.curate import (
    build_url_bloom,
    curate_micro_batch,
    curate_stream,
)
from condenser_spark.streaming.media import (
    build_media_hash_index,
    build_video_fp_index,
    media_dedup_batch_against_corpus,
    media_dup_pairs_stream,
    video_dedup_batch_against_corpus,
    video_dup_windows_stream,
)
from condenser_spark.streaming.textdedup import (
    build_kgram_bloom,
    build_line_bloom,
    dedup_lines_stream,
    exact_substring_stream,
    gopher_repetition_stateless,
)
from condenser_spark.functions.text import (
    diversity_stats_stateless,
    fineweb_quality_stateless,
)

__all__ = [
    "build_kgram_bloom",
    "build_line_bloom",
    "build_media_hash_index",
    "build_video_fp_index",
    "build_minhash_band_index",
    "build_url_bloom",
    "curate_micro_batch",
    "curate_stream",
    "dedup_batch_against_corpus",
    "dedup_lines_stream",
    "diversity_stats_stateless",
    "exact_substring_stream",
    "fineweb_quality_stateless",
    "gopher_repetition_stateless",
    "media_dedup_batch_against_corpus",
    "media_dup_pairs_stream",
    "minhash_near_pairs_stream",
    "video_dedup_batch_against_corpus",
    "video_dup_windows_stream",
    "sessionize",
    "sessionize_stream",
    "windowed_event_counts",
    "windowed_event_counts_stream",
]
