from .io import (
    FIXTURE_TABLES,
    TWEETS_SCHEMA,
    local_frame,
    read_table,
    read_tweets_jsonl,
    register_views,
    run_sql,
    spread,
)

__all__ = [
    "FIXTURE_TABLES",
    "TWEETS_SCHEMA",
    "local_frame",
    "read_table",
    "read_tweets_jsonl",
    "register_views",
    "run_sql",
    "spread",
]
