"""The benchmark's workloads: fixed lists of catalog queries, one
pipeline pass each, and the sink every query's result goes to."""

from __future__ import annotations

# sink kinds: "noop" (DataFrameWriter format noop), "json"
# (sinks.write_json_docs), "ntriples" / "turtle" (sources.rdf writers)
WORKLOADS: dict[str, dict] = {
    "prosopography": {
        "why": "the paper's own traffic: short, wide plans, the only workload that "
        "publishes through the engine's JSON, N-Triples and Turtle writers, plus a "
        "stateful streaming monitor",
        "queries": [
            ("person_index_docs", "json"),
            ("geonames_place_docs", "json"),
            ("render_place_triples", "turtle"),
            ("entity_resolution", "ntriples"),
            ("stream_tumbling_window", "noop"),
        ],
    },
    "corpus": {
        "why": "execution-heavy curation: shuffles, the vector argmax and pandas-UDF "
        "workers over memoized corpus and LSH-pair fixtures",
        "queries": [
            ("dedup_minhash_lsh", "noop"),
            ("dedup_clusters", "noop"),
            ("semdedup_keep", "noop"),
            ("text_quality", "noop"),
            ("pii_scrub", "noop"),
        ],
    },
}


def all_queries() -> list[str]:
    return [q for w in WORKLOADS.values() for q, _ in w["queries"]]
