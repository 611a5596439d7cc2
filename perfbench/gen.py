"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (workload, seed, size): numpy
RandomState streams only, no wall clock, and no geospark code, so a change
to the program under test cannot change the inputs it is measured on. Inputs
are written as parquet (plus a small JSON of expected facts the output
checks use) into a cache directory keyed by (workload, seed, size) and by a
hash of this file, so a repeated run with the same key skips generation and
an edited generator never reuses stale inputs. The program under test only
ever sees the generated files.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Per-workload sizes. "bench" is what the benchmark measures; "tiny" is the
# self-test size (tests/test_perfbench.py). reverse_knn's world also carries
# the pages and forward/predict batches its traced run measures.
SIZES = {
    "bench": {
        "reverse_knn": dict(n_houses_per_street=100, n_vocab=2_000, n_queries=2_000,
                            n_pages=1_500, n_forward=600, n_predict=600),
        "dedup_docs": dict(n_base=600, n_near=60, n_exact=20),
    },
    "tiny": {
        "reverse_knn": dict(n_houses_per_street=40, n_vocab=200, n_queries=300,
                            n_pages=300, n_forward=100, n_predict=100),
        "dedup_docs": dict(n_base=300, n_near=30, n_exact=10),
    },
}

with open(os.path.abspath(__file__), "rb") as _fp:
    SOURCE_HASH = hashlib.sha256(_fp.read()).hexdigest()


def input_dir(cache_root: str, workload: str, seed: int, size: str) -> str:
    """Generate (once) the inputs of one (workload, seed, size) key."""
    params = SIZES[size][workload]
    tag = hashlib.sha256(json.dumps([SOURCE_HASH, params], sort_keys=True).encode()).hexdigest()
    key = f"{workload}-s{seed}-{size}-{tag[:10]}"
    out = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed, **params)
    with open(os.path.join(tmp, "DONE"), "w") as fp:
        fp.write(json.dumps(params, sort_keys=True) + "\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _write_json(path: str, obj) -> None:
    with open(path, "w") as fp:
        json.dump(obj, fp, sort_keys=True)


# Spherical Web Mercator (EPSG:3857), the projection geospark's tables are
# stored in; closed form, so the checks need no projection library.
R = 6378137.0


def lonlat_to_merc(lon, lat):
    lon, lat = np.asarray(lon, np.float64), np.asarray(lat, np.float64)
    return R * np.radians(lon), R * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))


def merc_to_lonlat(x, y):
    x, y = np.asarray(x, np.float64), np.asarray(y, np.float64)
    return np.degrees(x / R), np.degrees(2.0 * np.arctan(np.exp(y / R)) - np.pi / 2.0)


# ---------------------------------------------------------------------------
# reverse_knn: an OSM-shaped world with a dense mega-city and a large street
# vocabulary, written as the five tables etl.load_osm_tables reads
# ---------------------------------------------------------------------------

X0, Y0 = 1.0e6, 6.0e6  # world origin, Mercator metres (lon ~9, lat ~47.3)
CITY_HALF = 6_000.0  # city boxes are 12 km squares centred in their county
# name, postcode, county index, dense mega-city
CITIES = [
    ("Amberg", "92224", 0, False), ("Dickenreuth", "95505", 1, False),
    ("Bigstadt", "90001", 2, True), ("Neuhausen", "73765", 3, False),
    ("Springfield", "62704", 4, False), ("Rivertown", "10501", 5, False),
    ("Lakeside", "81669", 6, False), ("Altdorf", "90518", 7, False),
]
STREET_POOL = [
    "Georgenstraße", "Hauptstraße", "Bahnhofstraße", "Marktplatz", "Gartenweg",
    "Main Street", "High Street", "Church Road", "Mill Lane", "Station Road",
    "Dickenreuther Weg", "Schulstraße",
]
ORPHAN_STREET = "Nowhere Lane"  # houses outside every polygon, on no road

_POLY = pa.list_(pa.list_(pa.list_(pa.float64())))
_BOX = [("xmin", pa.float64()), ("ymin", pa.float64()), ("xmax", pa.float64()),
        ("ymax", pa.float64()), ("centroid_x", pa.float64()), ("centroid_y", pa.float64()),
        ("rings", _POLY)]
SCHEMAS = {
    "osm_admin": pa.schema([("osm_id", pa.int64()), ("name", pa.string()),
                            ("admin_level", pa.int64()), ("type", pa.string())] + _BOX),
    "osm_postal_code": pa.schema([("osm_id", pa.int64()), ("postcode", pa.string())] + _BOX),
    "osm_roads": pa.schema([("osm_id", pa.int64()), ("type", pa.string()),
                            ("street", pa.string()), ("cls", pa.string()),
                            ("x0", pa.float64()), ("y0", pa.float64()),
                            ("x1", pa.float64()), ("y1", pa.float64()),
                            ("line", pa.list_(pa.list_(pa.float64())))]),
    "osm_house_number": pa.schema([("osm_id", pa.int64()), ("x", pa.float64()),
                                   ("y", pa.float64()), ("city", pa.string()),
                                   ("postcode", pa.string()), ("street", pa.string()),
                                   ("house_number", pa.string())]),
    "osm_buildings": pa.schema([("osm_id", pa.int64()), ("name", pa.string()),
                                ("type", pa.string()), ("street", pa.string()),
                                ("house_number", pa.string())] + _BOX),
    "webpages": pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                           ("html", pa.binary()), ("text", pa.string()),
                           ("lang", pa.string())]),
}


def _box(x0, y0, x1, y1) -> dict:
    """Bounding box, centroid and ring columns of an axis-aligned rectangle."""
    return dict(xmin=x0, ymin=y0, xmax=x1, ymax=y1, centroid_x=(x0 + x1) / 2,
                centroid_y=(y0 + y1) / 2,
                rings=[[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]])


def _write(out: str, name: str, rows: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=SCHEMAS[name]),
                   os.path.join(out, f"{name}.parquet"))


def build_world(seed: int, n_houses_per_street: int, n_vocab: int) -> dict:
    """Table name -> rows. Two countries of two states of two counties each
    (admin levels 2/4/6, no overlaps), a city box (level 8) and a slightly
    larger postal polygon centred in each county. Each city has six streets
    of ``n_houses_per_street`` houses; the mega-city has six times as many
    houses per street, packed into a box under 1.5 km wide (~2.4 m between
    houses at bench size), so one grid cell holds most of it. On top, the
    ``n_vocab`` names of ``street_vocabulary`` get one short road each with
    2-6 houses, spread over the cities, as real gazetteers are
    vocabulary-heavy. One house in ten has no city and one in ten neither
    city nor postcode: the set-up fills them from the polygons around them.
    Five orphan houses lie outside every polygon on a street with no road,
    so no set-up links them to a street. Buildings carry no house numbers."""
    rng = np.random.RandomState(seed + 7)
    w, h = 150_000.0, 300_000.0
    admin, postal, roads, houses, buildings = [], [], [], [], []
    oid = 1000

    def add_admin(name, level, kind, x0, y0, x1, y1):
        nonlocal oid
        admin.append(dict(osm_id=oid, name=name, admin_level=level, type=kind,
                          **_box(x0, y0, x1, y1)))
        oid += 1

    add_admin("Osmland", 2, "administrative", X0, Y0, X0 + w, Y0 + h)
    add_admin("Adressia", 2, "administrative", X0 + w, Y0, X0 + 2 * w, Y0 + h)
    counties = []
    for nm, x0, y0 in (("Nordland", X0, Y0 + h / 2), ("Südland", X0, Y0),
                       ("Eastmark", X0 + w, Y0 + h / 2), ("Westmark", X0 + w, Y0)):
        add_admin(nm, 4, "administrative", x0, y0, x0 + w, y0 + h / 2)
        for half in range(2):
            cx0 = x0 + half * w / 2
            counties.append((cx0, y0, cx0 + w / 2, y0 + h / 2))
            add_admin(f"{nm} County {half + 1}", 6, "administrative",
                      cx0, y0, cx0 + w / 2, y0 + h / 2)
    centres = []
    for name, pc, county, _ in CITIES:
        x0, y0, x1, y1 = counties[county]
        cx, cy = (x0 + x1) / 2, (y0 + y1) / 2
        centres.append((cx, cy))
        add_admin(name, 8, "city", cx - CITY_HALF, cy - CITY_HALF, cx + CITY_HALF, cy + CITY_HALF)
        p = 1.2 * CITY_HALF
        postal.append(dict(osm_id=oid, postcode=pc, **_box(cx - p, cy - p, cx + p, cy + p)))
        oid += 1

    r_id, hn_id, b_id = 300_000, 500_000, 700_000

    def add_house(x, y, city, pc, street, number):
        nonlocal hn_id
        mode = hn_id % 10
        if mode == 8:
            city = ""
        elif mode == 9:
            city, pc = "", ""
        houses.append(dict(osm_id=hn_id, x=float(x), y=float(y), city=city, postcode=pc,
                           street=street, house_number=number))
        hn_id += 1

    def add_road(street, x0, x1, y):
        nonlocal r_id
        roads.append(dict(osm_id=r_id, type="residential", street=street, cls="highway",
                          x0=x0, y0=y, x1=x1, y1=y, line=[[x0, y], [x1, y]]))
        r_id += 1

    n_streets = 6
    for ci, ((name, pc, _, mega), (cx, cy)) in enumerate(zip(CITIES, centres)):
        n_h = n_houses_per_street * (6 if mega else 1)
        half_w = min(0.8 * CITY_HALF, max(400.0, 0.2 * n_h)) if mega else 0.8 * CITY_HALF
        for si in range(n_streets):
            street = STREET_POOL[(ci + si) % len(STREET_POOL)]
            if mega:
                sy = cy + (si - n_streets / 2) * 60.0
            else:
                sy = cy - 0.8 * CITY_HALF + (si + 0.5) * 1.6 * CITY_HALF / n_streets
            add_road(street, cx - half_w, cx + half_w, sy)
            for hi in range(n_h):
                hx = cx - half_w + (hi + 0.5) / n_h * 2 * half_w
                hy = sy + (1.0 if mega else 12.0) * (1 if hi % 2 == 0 else -1)
                add_house(hx, hy, name, pc, street, f"{hi + 1}a" if hi % 7 == 3 else str(hi + 1))
        for bi in range(12):
            bx, by = cx - 0.5 * CITY_HALF + bi * CITY_HALF / 12, cy + 0.55 * CITY_HALF
            buildings.append(dict(osm_id=b_id, name=f"{name} Block {bi}" if bi % 3 == 0 else "",
                                  type="yes", street=STREET_POOL[(ci + bi) % n_streets],
                                  house_number="", **_box(bx, by, bx + 40, by + 30)))
            b_id += 1

    vocab = []
    for si, street in enumerate(street_vocabulary(n_vocab, rng)):
        ci = si % len(CITIES)
        (name, pc, _, _), (cx, cy) = CITIES[ci], centres[ci]
        sx, sy = cx + rng.uniform(-4_500, 4_000), cy + rng.uniform(-4_800, 4_800)
        length = rng.uniform(150, 500)
        add_road(street, sx, sx + length, sy)
        n_h = int(rng.randint(2, 7))
        for hi in range(n_h):
            add_house(sx + (hi + 0.5) * length / n_h, sy + (10.0 if hi % 2 == 0 else -10.0),
                      name, pc, street, str(hi + 1))
        vocab.append((street, name, pc, n_h))

    for k in range(5):
        add_house(X0 - 50_000 - k * 1_000, Y0 - 50_000, "", "", ORPHAN_STREET, str(k + 1))
    return dict(osm_admin=admin, osm_postal_code=postal, osm_roads=roads,
                osm_house_number=houses, osm_buildings=buildings, vocab=vocab)


def build_webpages(houses: list[dict], n_pages: int, rng) -> tuple[list[dict], list[dict]]:
    """Crawled pages, one in four each embedding a full address, a (lat, lon)
    pair at a house's own position (6 decimals), a street mention, or
    nothing; the house is drawn uniformly from every house of the world.
    The extracted text is known by construction: one line per block
    element, entities decoded. Returns (pages, what each page embeds)."""
    langs = ["en", "de", "fr", "es", "it"]
    hosts = ["example.org", "news.example.com", "shop.example.net",
             "blog.example.org", "data.example.io"]
    pages, embeds = [], []
    for i in range(n_pages):
        h = houses[int(rng.randint(len(houses)))]
        kind = i % 4
        if kind == 0:
            line = (f"Visit us at {h['street']} {h['house_number']}, "
                    f"{h['postcode']} {h['city']}.")
        elif kind == 1:
            lon, lat = merc_to_lonlat(h["x"], h["y"])
            line = f"Our office is at {float(lat):.6f}, {float(lon):.6f} in the city center."
        elif kind == 2:
            line = f"News from {h['street']} and the neighborhood."
        else:
            line = "Nothing spatial to see here, just prose."
        line = " ".join(line.split())  # an empty postcode or city leaves a space run
        html = ("<html><head><title>t</title><script>var x=1;</script></head><body>"
                f"<h1>Page {i}</h1><p>{line}</p><div>Contact &amp; imprint {i % 97}</div>"
                "</body></html>").encode("utf-8")
        url = f"https://{hosts[i % len(hosts)]}/p/{i}"
        pages.append(dict(url=url, warc_ts=1_700_000_000_000_000 + i * 37_000_000, html=html,
                          text=f"Page {i}\n{line}\nContact & imprint {i % 97}",
                          lang=langs[int(rng.randint(len(langs)))]))
        embeds.append(dict(url=url, kind=kind, line=line, x=h["x"], y=h["y"]))
    return pages, embeds


_DE_STEMS = ["Linden", "Ahorn", "Eichen", "Birken", "Tannen", "Rosen", "Mühl",
             "Kirch", "Schloss", "Wald", "Feld", "Bach", "Brunnen", "Garten",
             "Sonnen", "Stern", "Wiesen", "Hof", "Buchen", "Ulmen", "Hasel",
             "Berg", "See", "Ried", "Moos", "Kreuz", "Burg", "Anger", "Weiher",
             "Fichten", "Lerchen", "Kastanien", "Holunder", "Erlen", "Espen"]
_DE_MID = ["", "berg", "feld", "bach", "hof", "au", "tal", "wald", "heim",
           "grund", "brunn", "acker"]
_DE_SUFFIX = ["straße", "weg", "gasse", "allee", "platz", "ring", "steig", "damm"]
_EN_STEMS = ["Oak", "Maple", "Cedar", "Willow", "Ash", "Elm", "Birch", "Pine",
             "Cherry", "Hazel", "Meadow", "Brook", "Hill", "Park", "River",
             "Lake", "Stone", "Mill", "Church", "King", "Queen", "North",
             "South", "West", "East", "Spring", "Forest", "Orchard", "Bridge",
             "Green", "Fox", "Heather"]
_EN_MID = ["", "field", "wood", "brook", "dale", "ford", "gate", "view", "side"]
_EN_SUFFIX = ["Street", "Road", "Lane", "Avenue", "Close", "Drive", "Way",
              "Court", "Place", "Crescent"]


def street_vocabulary(n: int, rng) -> list[str]:
    """n distinct street names, half German-suffixed, half English."""
    names: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        if rng.rand() < 0.5:
            nm = (_DE_STEMS[rng.randint(len(_DE_STEMS))] + _DE_MID[rng.randint(len(_DE_MID))]
                  + _DE_SUFFIX[rng.randint(len(_DE_SUFFIX))])
        else:
            nm = (_EN_STEMS[rng.randint(len(_EN_STEMS))] + _EN_MID[rng.randint(len(_EN_MID))]
                  + " " + _EN_SUFFIX[rng.randint(len(_EN_SUFFIX))])
        if nm not in names and nm not in STREET_POOL:
            names.add(nm)
            out.append(nm)
    return out


def typo(word: str, rng) -> str:
    """One seeded edit: drop, swap or replace a character, or the German
    'straße' -> 'str' abbreviation; words of 5 characters or fewer stay."""
    if len(word) <= 5:
        return word
    k = int(rng.randint(1, len(word) - 2))
    op = int(rng.randint(4))
    if op == 0:
        return word[:k] + word[k + 1:]
    if op == 1:
        return word[:k] + word[k + 1] + word[k] + word[k + 2:]
    if op == 2:
        return word[:k] + "xqzkv"[int(rng.randint(5))] + word[k + 1:]
    return word.replace("straße", "str") if "straße" in word else word[:-1]


def gen_reverse_knn(out: str, seed: int, n_houses_per_street: int, n_vocab: int,
                    n_queries: int, n_pages: int, n_forward: int, n_predict: int) -> None:
    """The world of ``build_world``, then, all seeded:

    * ``queries.parquet``: the reverse batch (``_reverse_queries``), limit 10;
    * ``webpages.parquet``: crawled pages (``build_webpages``);
    * ``forward.parquet``: structured forward queries of four shapes (road
      only, + house number, + postcode, + city) on vocabulary streets, three
      in four with one typo in the road;
    * ``predict.parquet``: 4-8 character prefixes of the same road terms;
    * ``expect.json``: the clean forward queries and what each page embeds.
    """
    world = build_world(seed, n_houses_per_street, n_vocab)
    for name in SCHEMAS:
        if name != "webpages":
            _write(out, name, world[name])
    rng = np.random.RandomState(seed + 101)
    pages, embeds = build_webpages(world["osm_house_number"], n_pages, rng)
    _write(out, "webpages", pages)
    linked = [h for h in world["osm_house_number"] if h["street"] != ORPHAN_STREET]
    _reverse_queries(out, rng, linked, n_queries)
    exact = _forward_queries(out, rng, world["vocab"], n_forward, n_predict)
    _write_json(os.path.join(out, "expect.json"),
                {"exact_forward_ids": exact, "pages": embeds})


# The reverse batch copies the two shapes of reverse traffic geospark itself
# sends. The fixture reverse batch (fixtures.write_fixtures) has seven
# queries: five 15 m east and 10 m south of a house at radius 100 m, one in
# empty country at radius 100 m, and one at radius 150 m (an OpenAddresses
# fallback probe; this world has no OpenAddresses rows). mine.geocode_pages
# sends each coordinate mined from a page -- a house's own position, printed
# to 6 decimals -- at radius 150 m. So per seven queries: five house
# offsets at 100 m, one page coordinate at 150 m, one empty-country point at
# 100 m. Houses are drawn uniformly from the street-linked houses, so the
# dense-city share is the mega-city's share of houses (23% at bench size)
# times 6/7.
REVERSE_MIX = [  # (share, kind, radius in metres)
    (5 / 7, "house_offset", 100.0),
    (1 / 7, "page_coordinate", 150.0),
    (1 / 7, "empty_country", 100.0),
]


def _reverse_queries(out: str, rng, houses: list[dict], n: int) -> None:
    xs = np.array([h["x"] for h in houses])
    ys = np.array([h["y"] for h in houses])
    kind = rng.choice(len(REVERSE_MIX), size=n, p=[m[0] for m in REVERSE_MIX])
    idx = rng.randint(0, len(xs), n)
    qx, qy = xs[idx] + 15.0, ys[idx] - 10.0
    # empty country: the west of Südland County 1, over 10 km from any city
    # box and so from any house
    empty = kind == 2
    qx[empty] = X0 + rng.uniform(2_000, 20_000, empty.sum())
    qy[empty] = Y0 + rng.uniform(30_000, 60_000, empty.sum())
    lon, lat = merc_to_lonlat(qx, qy)
    page = kind == 1
    plon, plat = merc_to_lonlat(xs[idx[page]], ys[idx[page]])
    lon[page], lat[page] = np.round(plon, 6), np.round(plat, 6)
    radius = np.array([m[2] for m in REVERSE_MIX])[kind]
    pq.write_table(pa.table({
        "query_id": pa.array(np.arange(n, dtype=np.int64)),
        "lat": pa.array(lat), "lon": pa.array(lon), "radius": pa.array(radius),
        "limit": pa.array(np.full(n, 10, np.int32)),
    }), os.path.join(out, "queries.parquet"))


def _forward_queries(out: str, rng, streets: list[tuple], n_forward: int,
                     n_predict: int) -> list[int]:
    """Writes the forward and predict batches; returns the ids of the
    forward queries whose road is spelled right."""
    rows, exact = [], []
    for qi in range(n_forward):
        name, city, pc, n_h = streets[int(rng.randint(len(streets)))]
        shape = qi % 4
        clean = rng.rand() < 0.25
        rows.append(dict(
            query_id=qi, road=name if clean else typo(name, rng),
            house_number=str(int(rng.randint(1, n_h + 1))) if shape == 1 else None,
            postcode=pc if shape == 2 else None,
            city=city if shape == 3 else None,
            country=None, center_lat=None, center_lon=None, radius=20000, limit=20))
        if clean:
            exact.append(qi)
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema([
        ("query_id", pa.int64()), ("road", pa.string()), ("house_number", pa.string()),
        ("postcode", pa.string()), ("city", pa.string()), ("country", pa.string()),
        ("center_lat", pa.float64()), ("center_lon", pa.float64()),
        ("radius", pa.int64()), ("limit", pa.int64())])),
        os.path.join(out, "forward.parquet"))
    pred = [dict(query_id=qi, input=rows[qi % len(rows)]["road"].split(" ")[0][
        : int(rng.randint(4, 9))]) for qi in range(n_predict)]
    pq.write_table(pa.Table.from_pylist(pred, schema=pa.schema([
        ("query_id", pa.int64()), ("input", pa.string())])),
        os.path.join(out, "predict.parquet"))
    return exact


# ---------------------------------------------------------------------------
# dedup_docs: a bag-of-words corpus with planted near-duplicates
# ---------------------------------------------------------------------------

_SYLLABLES = ["ka", "lo", "mi", "ter", "sun", "ra", "vel", "dor", "pi", "an",
              "sto", "gre", "bu", "fen", "tal", "or", "nis", "wa", "zu", "mer"]


def gen_dedup_docs(out: str, seed: int, n_base: int, n_near: int, n_exact: int) -> None:
    """``n_base`` documents of 12-90 words drawn uniformly from a 2,000-word
    pool, plus ``n_near`` copies of documents of 40 words or more with one
    word replaced (shingle Jaccard ~0.85-0.95) and ``n_exact`` verbatim
    copies. Document ids are a seeded permutation so planted pairs are not
    adjacent. The planted pairs go to expect.json: exact-Jaccard pairing must
    find all of them, simhash pairing all verbatim ones."""
    rng = np.random.RandomState(seed + 303)
    pool = list(dict.fromkeys(
        "".join(_SYLLABLES[i] for i in rng.randint(0, len(_SYLLABLES), k))
        for k in rng.randint(2, 5, 4_000)))[:2_000]
    texts = []
    for _ in range(n_base):
        texts.append([pool[i] for i in rng.randint(0, len(pool), int(rng.randint(12, 91)))])
    near, exact = [], []
    long_docs = [i for i, t in enumerate(texts) if len(t) >= 40]
    for src in rng.choice(long_docs, size=n_near, replace=False):
        t = list(texts[src])
        t[int(rng.randint(len(t)))] = "qqzeta"  # no pool word has a q
        near.append((int(src), len(texts)))
        texts.append(t)
    for src in rng.choice(n_base, size=n_exact, replace=False):
        exact.append((int(src), len(texts)))
        texts.append(list(texts[src]))
    ids = rng.permutation(len(texts)).astype(np.int64)
    joined = [" ".join(t) for t in texts]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(joined),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array([f"src{i % 7}" for i in range(len(texts))]),
        "n_chars": pa.array([len(t) for t in joined], pa.int64()),
    }), os.path.join(out, "documents.parquet"))

    def pair(a, b):
        x, y = int(ids[a]), int(ids[b])
        return [min(x, y), max(x, y)]

    _write_json(os.path.join(out, "expect.json"), {
        "near_pairs": [pair(a, b) for a, b in near],
        "exact_pairs": [pair(a, b) for a, b in exact],
    })


GENERATORS = {"reverse_knn": gen_reverse_knn, "dedup_docs": gen_dedup_docs}
