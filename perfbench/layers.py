"""The layer map: which spans the traced run reports, which end-to-end
metric each should move, and on which workloads it does most and least work.

Written down before any measurement, so a later change that claims a gain in
one layer can be checked against the workloads that should, and should not,
move.
"""

from __future__ import annotations

# span -> (end-to-end metric it moves, where it does most work, where little
# or none). "traced only" layers run in a workload's traced run and in no
# timed pass, so they move no end-to-end metric of this benchmark.
LAYER_MAP = {
    "session.get_spark": ("setup_s", "all", "none: every workload pays it"),
    "etl.load_osm_tables": ("setup_s", "reverse_knn", "dedup_docs"),
    "etl.build_struct_tables": ("setup_s, peak_rss_mb",
                                "reverse_knn (adaptive mega-cell split)", "dedup_docs"),
    "tables.GeocoderTables": ("setup_s, peak_rss_mb",
                              "reverse_knn (street vocabulary gram index)", "dedup_docs"),
    "reverse.reverse_geocode": ("items_per_s",
                                "reverse_knn (window top-k, grid fan-out under skew)",
                                "dedup_docs"),
    "formatter.format_address": ("items_per_s", "reverse_knn (every result row)",
                                 "dedup_docs"),
    "dedup.minhash_lsh_pairs": ("items_per_s", "dedup_docs", "reverse_knn"),
    "dedup.ngram_jaccard_pairs": ("items_per_s", "dedup_docs", "reverse_knn"),
    "etl.build_wordlist": ("none (traced only)", "reverse_knn traced run", "dedup_docs"),
    "spatial.pip_join": ("none (traced only)", "reverse_knn traced run, on result points",
                         "dedup_docs"),
    "mine.verify_extraction": ("none (traced only)", "reverse_knn traced run", "dedup_docs"),
    "mine.geocode_pages": ("none (traced only)", "reverse_knn traced run", "dedup_docs"),
    "mine.mine_addresses": ("none (traced only)", "reverse_knn traced breakdown",
                            "dedup_docs"),
    "mine.mine_coordinates": ("none (traced only)", "reverse_knn traced breakdown",
                              "dedup_docs"),
    "forward.forward_geocode": ("none (traced only)",
                                "reverse_knn traced run (window top-k, limit 20)",
                                "dedup_docs"),
    "predict.predict_text": ("none (traced only)", "reverse_knn traced run", "dedup_docs"),
    "dedup.simhash_pairs_recursive": ("none (traced only)", "dedup_docs traced run",
                                      "reverse_knn"),
}

# spans that launch no Spark job of their own: wall time only
PLAIN_SPANS = ("session.get_spark", "etl.load_osm_tables")
SPAN_FIELDS = ("wall_s", "rows_out", "task_cpu_s", "driver_gap_s", "spill_bytes",
               "shuffle_write_bytes", "python_rows", "task_retries")
UNITS = {"wall_s": "s", "rows_out": "count", "task_cpu_s": "s", "driver_gap_s": "s",
         "spill_bytes": "bytes", "shuffle_write_bytes": "bytes", "python_rows": "count",
         "task_retries": "count"}
# useful-outcome ratios and the trace's own cost (all unit "ratio"), and the
# composed-minus-parts wall of geocode_pages
RATIOS = ("forward.hit_ratio", "reverse.hit_ratio", "mine.geocoded_ratio",
          "dedup.lsh_recall", "trace.overhead_ratio")
PARTS_GAP = "mine.geocode_pages.parts_gap_s"


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    out = []
    for span in LAYER_MAP:
        fields = ("wall_s",) if span in PLAIN_SPANS else SPAN_FIELDS
        out += [(f"{span}.{f}", UNITS[f]) for f in fields]
    out += [(r, "ratio") for r in RATIOS]
    out.append((PARTS_GAP, "s"))
    return out
