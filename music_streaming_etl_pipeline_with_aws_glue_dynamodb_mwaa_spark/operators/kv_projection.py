"""KV projections: shape KPI frames into DynamoDB-style items (SURVEY.md §2.2
F7-F9, §2.10).

The reference builds items per-row in Python — ``build_genre_kpi`` /
``build_top_song`` / ``build_top_genre`` (``REF/glue_jobs/load_dynamo.py:121-153``):
guard falsy key fields → project/rename → ``str``/``int``/``float`` coercions →
``genre#track`` concat. All of it is expressible as native Spark expressions,
so the engine needs ZERO Python UDFs here — the projection stays inside
whole-stage codegen and scales with the cluster instead of one loader process
(the reference materializes the whole dataset in driver dicts,
``load_dynamo.py:61-62`` — its scale ceiling).

Each function returns a DataFrame in exactly the item shape; the KV sink
(plans.kvstore) writes it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import coerce_double, coerce_long, composite_key


def _key_guard(*cols: str) -> Column:
    """F7: skip item when a key field is null/empty (falsy guard at
    REF/glue_jobs/load_dynamo.py:122-123,134-135,146-147)."""
    pred = F.lit(True)
    for c in cols:
        pred = pred & F.col(c).isNotNull() & (F.col(c).cast("string") != "")
    return pred


def genre_kpi_items(kpis: DataFrame) -> DataFrame:
    """DailyGenreKPIs items — PK(date S, genre S)
    (REF/glue_jobs/load_dynamo.py:121-131; table DDL :82-93)."""
    return kpis.filter(_key_guard("listen_date", "track_genre")).select(
        F.col("listen_date").cast("string").alias("date"),
        F.col("track_genre").alias("genre"),
        coerce_long("listen_count").alias("listen_count"),
        coerce_long("unique_listeners").alias("unique_listeners"),
        coerce_double("total_listening_time").alias("total_listening_time"),
        coerce_double("avg_listening_time_per_user").alias("avg_listen_time_per_user"),
    )


def top_song_items(top_songs: DataFrame) -> DataFrame:
    """TopSongsPerGenre items — PK(date S, genre_track S), F9 composite key
    (REF/glue_jobs/load_dynamo.py:133-143)."""
    return top_songs.filter(_key_guard("listen_date", "track_genre", "track_name")).select(
        F.col("listen_date").cast("string").alias("date"),
        composite_key("track_genre", "track_name").alias("genre_track"),
        F.col("track_genre").alias("genre"),
        F.col("track_name"),
        coerce_long("listen_count").alias("play_count"),
        coerce_long("rank").alias("rank"),
    )


def top_genre_items(top_genres: DataFrame) -> DataFrame:
    """TopGenresPerDay items — PK(date S, genre S)
    (REF/glue_jobs/load_dynamo.py:145-153)."""
    return top_genres.filter(_key_guard("listen_date", "track_genre")).select(
        F.col("listen_date").cast("string").alias("date"),
        F.col("track_genre").alias("genre"),
        coerce_long("listen_count").alias("listen_count"),
        coerce_long("rank").alias("rank"),
    )
