"""Top-k per group via ranked windows (SURVEY.md §2.5 W1/W2, §2.6 O2, §2.2 F6).

Reference semantics (``REF/glue_jobs/transform.py:39-50``):
- top_songs: count plays per (listen_date, track_genre, track_name),
  ``row_number`` over (listen_date, track_genre ordered by count desc), keep ≤3.
- top_genres: count plays per (listen_date, track_genre), ``row_number`` over
  (listen_date ordered by count desc), keep ≤5.

Determinization (SURVEY.md §2.5): the reference ranks by a non-unique key
(``listen_count``) — ties make its output nondeterministic. We add the group
key itself as a tie-break (semantics-preserving: same members, stable order),
mirrored in the DuckDB oracle.

Scale posture: Spark ≥3.5 rewrites rank-filter-over-window into
``WindowGroupLimitExec`` (per-partition top-k pushdown before the shuffle), so
this is NOT a full sort of each group at 100 TB — verified in tests by plan
inspection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def counts_per_group(df: DataFrame, keys: list[str], count_name: str = "listen_count") -> DataFrame:
    """A2/A3: plays per group (REF/glue_jobs/transform.py:40-41, 47-48)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(count_name))


def top_k_per_group(df: DataFrame, partition_by: list[str], order_col: str,
                    k: int, *, tie_break: list[str] | None = None,
                    rank_name: str = "rank") -> DataFrame:
    """W1/W2 + F6: row_number ≤ k per partition, deterministic ordering."""
    order = [F.col(order_col).desc()] + [F.col(c).asc() for c in (tie_break or [])]
    w = Window.partitionBy(*partition_by).orderBy(*order)
    return (
        df.withColumn(rank_name, F.row_number().over(w))
        .filter(F.col(rank_name) <= k)
    )


def top_songs_per_genre(joined: DataFrame, k: int = 3) -> DataFrame:
    """W1 (REF/glue_jobs/transform.py:39-43): top-k songs per (day, genre)."""
    counts = counts_per_group(joined, ["listen_date", "track_genre", "track_name"])
    return top_k_per_group(counts, ["listen_date", "track_genre"], "listen_count",
                           k, tie_break=["track_name"])


def top_genres_per_day(joined: DataFrame, k: int = 5) -> DataFrame:
    """W2 (REF/glue_jobs/transform.py:46-50): top-k genres per day."""
    return rank_genres_per_day(counts_per_group(joined, ["listen_date", "track_genre"]), k)


def rank_genres_per_day(counts: DataFrame, k: int = 5) -> DataFrame:
    """W2's ranking of (listen_date, track_genre, listen_count) rows: the
    k most played genres per day, ties by genre name. The pipeline ranks
    the play counts of its daily genre KPIs with it."""
    return top_k_per_group(counts, ["listen_date"], "listen_count",
                           k, tie_break=["track_genre"])
