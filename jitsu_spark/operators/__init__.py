from jitsu_spark.operators.flatten import flatten, flatten_json_col, normalize_name
from jitsu_spark.operators.mapping import MappingRule, apply_mappings, parse_rule
from jitsu_spark.operators.enrich import (
    with_context_enrichment,
    with_deterministic_event_id,
)
from jitsu_spark.operators.geo_ua import (
    ip_to_long,
    with_geo_lookup,
    with_parsed_ua,
)
from jitsu_spark.operators.routing import route_to_tables, table_name_expr
from jitsu_spark.operators.salting import salted_agg
from jitsu_spark.operators.transform import (
    replay_dead_letters,
    split_dead_letter,
    transform_events,
    transform_events_vectorized,
)

__all__ = [
    "flatten",
    "flatten_json_col",
    "normalize_name",
    "MappingRule",
    "apply_mappings",
    "parse_rule",
    "with_context_enrichment",
    "with_deterministic_event_id",
    "ip_to_long",
    "with_geo_lookup",
    "with_parsed_ua",
    "route_to_tables",
    "table_name_expr",
    "salted_agg",
    "replay_dead_letters",
    "split_dead_letter",
    "transform_events",
    "transform_events_vectorized",
]
