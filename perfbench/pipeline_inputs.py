"""Seeded input for ``pipeline_refresh``: paged GeoJSON served in-process.

Each source is an Esri REST FeatureServer with one point layer. The seed
draws how the fixed total of features is split over the sources, the page
size, the share of points that lie outside the AOI bbox, and every
feature's name and coordinates. The source count and the total stay fixed,
so runs on different seeds do the same amount of work. Feature names use
å/ä/ö.

The transport counts what the fetchers ask of it: every ``get_json`` call
is a request, and every call for a page of features is a page.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# (source name, authority, the production table the pipeline must name it)
SOURCES = (
    ("Skyddsvärda träd", "LST", "lst_skyddsvarda_trad_layer0"),
    ("Översvämningsområden", "MSB", "msb_oversvamningsomraden_layer0"),
)
TOTAL_FEATURES = 4_000
PAGE_SIZES = (500, 1000, 2000)
OUTSIDE_SHARE = (0.2, 0.4)
# AOI in EPSG:4326 (lon/lat); features are spread over a wider box
AOI = (14.0, 56.0, 20.0, 62.0)
_WORLD = (10.0, 54.0, 24.0, 66.0)
_WORDS = ("Ängsö", "Björkå", "Älvsbyn", "Gärdet", "Hörby", "Stråken", "Lövön", "Kärr")


@dataclass
class Layer:
    features: list[dict]
    page_size: int
    inside: int  # features within the AOI: the rows the load must hold


def make_inputs(seed: int) -> list[Layer]:
    rng = random.Random(seed)
    page_size = rng.choice(PAGE_SIZES)
    share = rng.uniform(*OUTSIDE_SHARE)
    weights = [rng.uniform(0.7, 1.3) for _ in SOURCES]
    sizes = [int(TOTAL_FEATURES * w / sum(weights)) for w in weights]
    sizes[-1] = TOTAL_FEATURES - sum(sizes[:-1])
    layers = []
    for n in sizes:
        feats, inside = [], 0
        for fid in range(n):
            if rng.random() < share:
                lon, lat = _outside(rng)
            else:
                lon = rng.uniform(AOI[0] + 1e-3, AOI[2] - 1e-3)
                lat = rng.uniform(AOI[1] + 1e-3, AOI[3] - 1e-3)
                inside += 1
            feats.append({
                "type": "Feature",
                "properties": {
                    "fid": fid,
                    "namn": f"{rng.choice(_WORDS)} {fid}",
                    "klass": rng.randrange(1, 6),
                },
                "geometry": {"type": "Point", "coordinates": [round(lon, 6), round(lat, 6)]},
            })
        layers.append(Layer(feats, page_size, inside))
    return layers


def _outside(rng: random.Random) -> tuple[float, float]:
    """A point of the wider box that is clearly outside the AOI."""
    while True:
        lon = rng.uniform(_WORLD[0], _WORLD[2])
        lat = rng.uniform(_WORLD[1], _WORLD[3])
        if not (AOI[0] - 0.01 <= lon <= AOI[2] + 0.01 and AOI[1] - 0.01 <= lat <= AOI[3] + 0.01):
            return lon, lat


def service_url(i: int) -> str:
    return f"https://features.bench.invalid/src{i}/FeatureServer"


@dataclass
class SeededTransport:
    """The fetchers' ``Transport``; nothing leaves the process."""

    layers: list[Layer]
    requests: int = 0
    pages: int = 0
    _by_url: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        for i, layer in enumerate(self.layers):
            self._by_url[service_url(i)] = layer

    def get_json(self, url: str, params: dict | None = None) -> dict:
        self.requests += 1
        params = params or {}
        base, _, rest = url.partition("/FeatureServer")
        layer = self._by_url[base + "/FeatureServer"]
        if rest == "":
            return {"layers": [{"id": 0}]}
        if rest == "/0":
            return {"maxRecordCount": layer.page_size}
        if rest == "/0/query":
            self.pages += 1
            off = int(params.get("resultOffset", 0))
            cnt = int(params.get("resultRecordCount", layer.page_size))
            page = layer.features[off:off + cnt]
            return {
                "type": "FeatureCollection",
                "features": page,
                "exceededTransferLimit": off + len(page) < len(layer.features),
            }
        raise KeyError(f"unexpected request {url}")

    def head_headers(self, url: str) -> dict[str, str]:
        return {}
