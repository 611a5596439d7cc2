"""The benchmark workloads: set-up, one pass, and output checks.

Each workload drives only public geospark functions. A pass returns, per
output, an order-insensitive digest over every output column (the timed
action, so no column can be pruned away) and the DataFrame itself, which the
checks of the untimed warm pass read. With tracing on, each call into a
module runs in a span named ``<module>.<function>`` and its output is
materialized inside the span, so the span's wall time holds the work.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from geospark import dedup, etl, formatter, mine, predict, spatial
from geospark.forward import forward_geocode
from geospark.reverse import reverse_geocode
from geospark.tables import GeocoderTables
from perfbench.gen import lonlat_to_merc

# rows above which a grid cell of the reverse_knn world is split: the
# mega-city cell holds ~4.5x this at bench size, the other cells stay below
HOT_CELL_ROWS = 800


def digest(df) -> dict:
    """(rows, xor, sum) of xxhash64 over every column. Order-insensitive;
    the sum adds values below 2^31, so it cannot overflow a long under ANSI
    mode for fewer than 2^32 rows."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    r = df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("x"),
               F.sum(F.pmod(h, F.lit(2**31 - 1))).alias("s")).first()
    return dict(rows=int(r["n"]), value=f"{r['n']}:{(r['x'] or 0) & (2**64 - 1):016x}:{r['s'] or 0}")


def _output(tracer, name: str, df, outs: dict, keep: bool = False) -> None:
    """Digest ``df`` as output ``name``; inside an open span, its row count
    becomes the span's rows_out. ``keep`` materializes ``df`` first, so the
    checks read the rows instead of recomputing them."""
    if keep:
        df = df.localCheckpoint(eager=True)
    d = digest(df)
    outs[name] = dict(digest=d["value"], df=df)
    tracer.add_rows(d["rows"])


def _barrier(tracer, df):
    """With tracing on, materialize ``df`` so the work it holds lands in the
    current span, not in the next layer's."""
    return df.localCheckpoint(eager=True) if tracer.enabled else df


class Workload:
    name = ""

    def __init__(self, inputs: str, cores: int):
        self.inputs = inputs
        self.cores = cores
        with open(os.path.join(inputs, "DONE")) as fp:
            self.params = json.loads(fp.read())

    def setup(self, spark, tracer) -> dict:
        raise NotImplementedError

    def run_pass(self, spark, st: dict, tracer, keep: bool = False) -> dict:
        """One pass; returns {output name: {"digest", "df"}}. ``keep``: the
        outputs will be checked (see ``_output``)."""
        raise NotImplementedError

    def check(self, spark, st: dict, outs: dict) -> tuple[list[str], dict]:
        """(failures, ratios) for a pass's outputs."""
        raise NotImplementedError

    @property
    def items(self) -> int:
        """Queries or documents one pass processes."""
        raise NotImplementedError

    def _read(self, spark, name: str, parts: int | None = None):
        df = spark.read.parquet(os.path.join(self.inputs, name))
        if parts:
            df = df.repartition(parts)
        df = df.cache()
        df.count()
        return df


@F.pandas_udf(StringType())
def _format_udf(road: pd.Series, hn: pd.Series, pc: pd.Series, city: pd.Series,
                county: pd.Series, state: pd.Series) -> pd.Series:
    keys = ("road", "house_number", "postcode", "city", "county", "state")
    return pd.Series([formatter.format_address(dict(zip(keys, vals)))
                      for vals in zip(road, hn, pc, city, county, state)])


class ReverseKnn(Workload):
    """Reverse geocode, limit 10, every result row formatted as an address:
    what the reference's ``Geocoder.reverse`` returns.

    The traced run also measures the layers no timed pass of this benchmark
    reaches (see ``traced_sections``) on the same world and built tables."""

    name = "reverse_knn"

    @property
    def items(self):
        return self.params["n_queries"]

    def setup(self, spark, tracer):
        with tracer.span("etl.load_osm_tables"):
            osm = etl.load_osm_tables(spark, self.inputs)
        with tracer.span("etl.build_struct_tables") as sp:
            struct = etl.build_struct_tables(spark, osm, hot_cell_rows=HOT_CELL_ROWS)
            if sp is not None:
                sp["rows_out"] = sum(v.count() for v in struct.values())
        with tracer.span("tables.GeocoderTables"):
            # builds and caches every table frame, the forward indexes too
            tables = GeocoderTables(spark, struct, osm["osm_admin"])
        st = dict(struct=struct, tables=tables,
                  queries=self._read(spark, "queries.parquet"))
        if tracer.enabled:
            with tracer.span("etl.build_wordlist") as sp:
                st["wordlist"] = predict.prepare_wordlist(
                    etl.build_wordlist(st["struct"])).cache()
                sp["rows_out"] = st["wordlist"].count()
            st["pages"] = self._read(spark, "webpages.parquet", parts=2 * self.cores)
            st["forward"] = self._read(spark, "forward.parquet")
            st["predict"] = self._read(spark, "predict.parquet")
        return st

    def run_pass(self, spark, st, tracer, keep=False):
        outs: dict = {}
        with tracer.span("reverse.reverse_geocode") as sp:
            rev = _barrier(tracer, reverse_geocode(spark, st["tables"], st["queries"],
                                                   with_fallback=False))
            if sp is not None:
                sp["rows_out"] = rev.count()
        with tracer.span("formatter.format_address"):
            out = rev.withColumn("address", _format_udf(
                "road", "house_number", "postcode", "city", "county", "state"))
            _output(tracer, "reverse", out, outs, keep)
        if tracer.enabled:
            # admin containment of the result points on its own (the reverse
            # join runs it fused, per candidate row)
            with tracer.span("spatial.pip_join"):
                admin = st["tables"].admin.filter(F.col("admin_level").isin([4, 6]))
                _output(tracer, "pip", spatial.pip_join(spark, rev.select("x", "y"), admin), {})
        return outs

    def check(self, spark, st, outs):
        """A seeded sample of queries against numpy brute force over the
        generated houses, read from the input files: those on a street that
        has a road (gen.build_world gives every other house a street with no
        road, outside every polygon)."""
        fails = []
        got = outs["reverse"]["df"].select("query_id", "distance", "address").toPandas()
        q = st["queries"].toPandas()
        roads = pq.read_table(os.path.join(self.inputs, "osm_roads.parquet"), columns=["street"])
        houses = pq.read_table(os.path.join(self.inputs, "osm_house_number.parquet"),
                               columns=["x", "y", "street"])
        houses = houses.filter(pc.is_in(houses["street"], value_set=roads["street"].unique()))
        hx, hy = houses["x"].to_numpy(), houses["y"].to_numpy()
        rng = np.random.RandomState(0)
        sample = q.iloc[rng.choice(len(q), size=min(200, len(q)), replace=False)]
        qx, qy = lonlat_to_merc(sample["lon"].to_numpy(), sample["lat"].to_numpy())
        by_q = {k: np.sort(g.to_numpy()) for k, g in got.groupby("query_id")["distance"]}
        for (qid, radius, limit), x, y in zip(
                sample[["query_id", "radius", "limit"]].itertuples(index=False), qx, qy):
            d = np.hypot(hx - x, hy - y)
            d = np.sort(d[d <= radius])
            e = by_q.get(qid, np.empty(0))
            if len(d) == 0:
                ok = len(e) == 0
            else:
                # the world's admin polygons do not overlap, so each house
                # is one row: the k nearest distances, k = min(limit, found)
                k = min(limit, len(d))
                ok = len(e) == k and bool(np.allclose(e, d[:k], rtol=0, atol=1e-6))
            if not ok:
                fails.append(f"reverse_geocode: query {qid} disagrees with brute force")
                break
        if (got["address"].str.len() == 0).any():
            fails.append("format_address: empty address for a result row")
        return fails, {"reverse.hit_ratio": got["query_id"].nunique() / self.items}

    def traced_sections(self, spark, st, tracer):
        """Layers outside the timed pass, each section under its own root
        span, each checked like a pass. Yields (section, failures, ratios).

        * ``mine``: the paper's headline job, extraction check + the
          composed geocode_pages join over crawled pages;
        * ``breakdown``: geocode_pages' public parts one after another (the
          address and coordinate scans, then top-1 forward and reverse with
          the query shapes geocode_pages builds), so the composed wall can be
          compared with the sum of its parts;
        * ``lookup``: typo'd structured forward queries, limit 20, and text
          prediction on prefixes of the same terms."""
        outs: dict = {}
        pages, tables = st["pages"], st["tables"]
        with tracer.span("mine"):
            with tracer.span("mine.verify_extraction"):
                _output(tracer, "verify", mine.verify_extraction(pages), outs)
            with tracer.span("mine.geocode_pages"):
                _output(tracer, "geocode", mine.geocode_pages(spark, tables, pages), outs)
        yield ("mine",) + self._check_mine(st, outs)

        with tracer.span("breakdown"):
            with tracer.span("mine.mine_addresses"):
                addr = _barrier(tracer, mine.mine_addresses(pages))
                _output(tracer, "addresses", addr, outs)
            with tracer.span("mine.mine_coordinates"):
                coords = _barrier(tracer, mine.mine_coordinates(pages))
                _output(tracer, "coordinates", coords, outs)
            fwd_q = addr.select(
                F.xxhash64("url", "road", "house_number", "postcode", "city").alias("query_id"),
                "road", "house_number", "postcode", "city",
                F.lit(None).cast("string").alias("country"),
                F.lit(None).cast("double").alias("center_lat"),
                F.lit(None).cast("double").alias("center_lon"),
                F.lit(20000.0).alias("radius"), F.lit(1).alias("limit"))
            rev_q = coords.select(F.xxhash64("url", "lat", "lon").alias("query_id"),
                                  "lat", "lon", F.lit(150.0).alias("radius"),
                                  F.lit(1).alias("limit"))
            with tracer.span("forward.forward_geocode"):
                _output(tracer, "forward1", forward_geocode(
                    spark, tables, fwd_q, batch_has_countries=False, scalar_limit=1), outs)
            with tracer.span("reverse.reverse_geocode"):
                _output(tracer, "reverse1", reverse_geocode(
                    spark, tables, rev_q, with_fallback=False, scalar_limit=1), outs)
        yield "breakdown", [], {}

        with tracer.span("lookup"):
            with tracer.span("forward.forward_geocode"):
                _output(tracer, "forward", forward_geocode(spark, tables, st["forward"]), outs)
            with tracer.span("predict.predict_text"):
                _output(tracer, "predict",
                        predict.predict_text(spark, st["wordlist"], st["predict"]), outs)
        yield ("lookup",) + self._check_lookup(st, outs)

    def _check_mine(self, st, outs):
        """Against what the generator embedded in each page (expect.json)."""
        fails = []
        bad = outs["verify"]["df"].filter(~F.col("ok")).count()
        if bad:
            fails.append(f"verify_extraction: {bad} pages differ from their extracted text")
        got = outs["geocode"]["df"].toPandas()
        with open(os.path.join(self.inputs, "expect.json")) as fp:
            embeds = {e["url"]: e for e in json.load(fp)["pages"]}
        rev = got[got["kind"] == "coordinate"]
        for r in rev.itertuples():
            # the page embeds a house's own position (6 decimals, ~0.1 m), so
            # the nearest house is that house, well within a metre
            e = embeds[r.url]
            d = np.hypot(r.x - e["x"], r.y - e["y"]) if e["kind"] == 1 else np.inf
            if not d <= 1.0:
                fails.append(f"geocode_pages: {r.url} reverse hit {d:.2f} m from its coordinate")
                break
        fwd = got[got["kind"] == "address"]
        for r in fwd.itertuples():
            # the hit's road is one the page's address line names
            e = embeds[r.url]
            if e["kind"] != 0 or r.road not in e["line"]:
                fails.append(f"geocode_pages: {r.url} forward hit road {r.road!r} not on the page")
                break
        if len(rev) == 0 or len(fwd) == 0:
            fails.append("geocode_pages: one half returned no rows")
        return fails, {"mine.geocoded_ratio": got["url"].nunique() / self.params["n_pages"]}

    def _check_lookup(self, st, outs):
        fails = []
        fwd = outs["forward"]["df"].select("query_id", "road").toPandas()
        q = st["forward"].select("query_id", "road").toPandas()
        with open(os.path.join(self.inputs, "expect.json")) as fp:
            exact = json.load(fp)["exact_forward_ids"]
        roads = fwd.groupby("query_id")["road"].agg(set).to_dict()
        want = dict(zip(q["query_id"], q["road"]))
        for qid in exact:
            if want[qid] not in roads.get(qid, ()):
                fails.append(f"forward_geocode: exact query {qid} ({want[qid]!r}) misses its street")
                break
        if (fwd.groupby("query_id").size() > 20).any():
            fails.append("forward_geocode: more than limit rows for a query")
        pr = outs["predict"]["df"].toPandas()
        inputs = dict(st["predict"].select("query_id", "input").toPandas()
                      .itertuples(index=False))
        for r in pr.itertuples():
            term = inputs[r.query_id]
            if r.dist != _levenshtein(r.word[:len(term)], term) or r.dist >= 3:
                fails.append(f"predict_text: {r.word!r} for {term!r} has dist {r.dist}")
                break
        if len(pr) == 0 or (pr.groupby("query_id").size() > 10).any():
            fails.append("predict_text: empty result or more than k rows for a query")
        return fails, {"forward.hit_ratio": fwd["query_id"].nunique() / self.params["n_forward"]}


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class DedupDocs(Workload):
    """MinHash-LSH and exact shingle-Jaccard pairing over a corpus with
    planted near-duplicates; recursive simhash pairing in the traced run."""

    name = "dedup_docs"

    @property
    def items(self):
        return self.params["n_base"] + self.params["n_near"] + self.params["n_exact"]

    def setup(self, spark, tracer):
        st = {"docs": self._read(spark, "documents.parquet", parts=self.cores)}
        with open(os.path.join(self.inputs, "expect.json")) as fp:
            st["expect"] = json.load(fp)
        return st

    def run_pass(self, spark, st, tracer, keep=False):
        outs: dict = {}
        with tracer.span("dedup.minhash_lsh_pairs"):
            _output(tracer, "lsh", dedup.minhash_lsh_pairs(st["docs"], threshold=0.5), outs, keep)
        with tracer.span("dedup.ngram_jaccard_pairs"):
            _output(tracer, "jaccard", dedup.ngram_jaccard_pairs(st["docs"], threshold=0.5),
                    outs, keep)
        return outs

    def check(self, spark, st, outs):
        fails = []
        planted = st["expect"]["near_pairs"] + st["expect"]["exact_pairs"]
        jac = {(r.doc_a, r.doc_b): r.jaccard for r in outs["jaccard"]["df"].collect()}
        lsh = {(r.doc_a, r.doc_b): r.jaccard for r in outs["lsh"]["df"].collect()}
        missing = [p for p in planted if tuple(p) not in jac]
        if missing:
            fails.append(f"ngram_jaccard_pairs: {len(missing)} planted pairs missing, e.g. {missing[0]}")
        wrong = [p for p, j in lsh.items() if jac.get(p) != j]
        if wrong:
            fails.append(f"minhash_lsh_pairs: {len(wrong)} pairs not in the exact result, e.g. {wrong[0]}")
        return fails, {"dedup.lsh_recall": len(lsh) / max(len(jac), 1)}

    def traced_sections(self, spark, st, tracer):
        """``simhash``: 63-bit simhash signatures paired by recursive banding
        at Hamming distance 3; every verbatim copy must pair up."""
        outs: dict = {}
        with tracer.span("simhash"):
            with tracer.span("dedup.simhash_pairs_recursive"):
                _output(tracer, "simhash", dedup.simhash_pairs_recursive(
                    dedup.simhash_signatures(st["docs"]), max_hamming=3, hot_threshold=16), outs)
        sim = {(r.doc_a, r.doc_b) for r in outs["simhash"]["df"].collect()}
        missing = [p for p in st["expect"]["exact_pairs"] if tuple(p) not in sim]
        yield "simhash", ([f"simhash_pairs_recursive: {len(missing)} verbatim copies missing"]
                          if missing else []), {}


WORKLOADS = {w.name: w for w in (ReverseKnn, DedupDocs)}
