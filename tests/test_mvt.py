"""MVT 2.1 encoder round-trip tests (pure Python, no Spark)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from tile_gen_spark.operators import mvt


def test_varint_zigzag():
    assert mvt._varint(0) == b"\x00"
    assert mvt._varint(300) == b"\xac\x02"  # protobuf docs example
    assert mvt._zigzag(0) == 0
    assert mvt._zigzag(-1) == 1
    assert mvt._zigzag(1) == 2
    assert mvt._zigzag(-2) == 3


def test_geometry_commands_point_example():
    # MVT spec example: point (25, 17) → [9, 50, 34]
    assert mvt._geometry_commands("point", [[25, 17]]) == [9, 50, 34]


def test_encode_decode_roundtrip():
    feats = [
        {"feature_id": 7, "kind": "point", "geom": [[25, 17]], "props": {"a": "1"}},
        {"feature_id": 9, "kind": "polygon",
         "geom": [[0, 0, 100, 0, 100, 100, 0, 100]], "props": {"a": "1", "b": "x"}},
        {"feature_id": 11, "kind": "line",
         "geom": [[2, 2, 2, 10], [40, 40, 50, 50]], "props": {}},
    ]
    data = mvt.encode_tile(feats, layer_name="test_layer")
    out = mvt.decode_tile(data)
    assert len(out["layers"]) == 1
    layer = out["layers"][0]
    assert layer["name"] == "test_layer"
    assert layer["version"] == 2
    assert layer["extent"] == 4096
    assert [f["id"] for f in layer["features"]] == [7, 9, 11]
    assert [f["type"] for f in layer["features"]] == [1, 3, 2]
    assert layer["keys"] == ["a", "b"]
    # point geometry decodes back to the spec command stream
    assert layer["features"][0]["geometry"] == [9, 50, 34]
    # polygon ends with ClosePath(7)
    assert layer["features"][1]["geometry"][-1] == (1 << 3) | 7
    # two-piece line has two MoveTo commands
    geo = layer["features"][2]["geometry"]
    assert sum(1 for g in geo if g == 9) == 2  # MoveTo count=1 → (1<<3)|1 = 9
    # tags reference the shared key/value tables
    assert layer["features"][0]["tags"] == [0, 0]
    assert layer["features"][1]["tags"] == [0, 0, 1, 1]


def test_typed_values_roundtrip():
    # MVT 2.1 §4.4: int/double/bool properties use typed Value fields, not
    # string_value; 1 and True dedupe as distinct values
    feats = [{"feature_id": 1, "kind": "point", "geom": [[5, 5]],
              "props": {"name": "x", "rank": 7, "score": 2.5,
                        "ok": True, "one": 1}}]
    data = mvt.encode_tile(feats)
    layer = mvt.decode_tile(data)["layers"][0]
    vals = [mvt.decode_value(v) for v in layer["values"]]
    tags = layer["features"][0]["tags"]
    got = {layer["keys"][tags[i]]: vals[tags[i + 1]] for i in range(0, len(tags), 2)}
    assert got == {"name": "x", "rank": 7, "score": 2.5, "ok": True, "one": 1}
    assert isinstance(got["ok"], bool) and not isinstance(got["one"], bool)
    assert isinstance(got["rank"], int) and isinstance(got["score"], float)
    # negative int via two's-complement uint64 varint
    f2 = [{"feature_id": 2, "kind": "point", "geom": [[1, 1]], "props": {"d": -3}}]
    l2 = mvt.decode_tile(mvt.encode_tile(f2))["layers"][0]
    assert mvt.decode_value(l2["values"][0]) == -3


def _shoelace(ring):
    s = 0
    for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1]):
        s += x1 * y2 - x2 * y1
    return s / 2.0


def test_donut_polygon_winding_on_wire():
    # MVT 2.1 §4.3.3.3: exterior ring positive shoelace area in tile coords
    # (y-down), interior ring negative — as decoded from the wire bytes.
    ext = [0, 0, 100, 0, 100, 100, 0, 100]            # positive area as listed
    hole = [25, 25, 25, 75, 75, 75, 75, 25]           # negative area as listed
    feats = [{"feature_id": 1, "kind": "polygon", "geom": [ext, hole], "props": {}}]
    data = mvt.encode_tile(feats)
    f = mvt.decode_tile(data)["layers"][0]["features"][0]
    rings = mvt.decode_geometry(f["geometry"])
    assert len(rings) == 2
    assert _shoelace(rings[0]) > 0      # exterior
    assert _shoelace(rings[1]) < 0      # hole
    # decode_geometry inverts _geometry_commands exactly
    assert [c for r in rings for p in r for c in p] == ext + hole


def test_split_layers_roundtrip():
    # split_layers=True: one Layer message per geometry kind, each decodable
    # on its own — incl. a donut polygon whose winding survives the split.
    ext = [0, 0, 100, 0, 100, 100, 0, 100]
    hole = [25, 25, 25, 75, 75, 75, 75, 25]
    feats = [
        {"feature_id": 1, "kind": "point", "geom": [[25, 17]], "props": {"a": 1}},
        {"feature_id": 2, "kind": "line", "geom": [[2, 2, 2, 10]], "props": {}},
        {"feature_id": 3, "kind": "polygon", "geom": [ext, hole], "props": {}},
    ]
    data = mvt.encode_tile(feats, layer_name="base", split_layers=True)
    layers = mvt.decode_tile(data)["layers"]
    assert [l["name"] for l in layers] == ["base_point", "base_line", "base_polygon"]
    assert [len(l["features"]) for l in layers] == [1, 1, 1]
    assert [l["features"][0]["type"] for l in layers] == [1, 2, 3]
    assert all(l["version"] == 2 for l in layers)
    pt = layers[0]["features"][0]
    assert pt["geometry"] == [9, 50, 34]
    rings = mvt.decode_geometry(layers[2]["features"][0]["geometry"])
    assert len(rings) == 2
    assert _shoelace(rings[0]) > 0 and _shoelace(rings[1]) < 0
    assert [c for r in rings for p in r for c in p] == ext + hole
    # single-layer output unchanged (compat): same features, one layer
    one = mvt.decode_tile(mvt.encode_tile(feats, layer_name="base"))["layers"]
    assert len(one) == 1 and len(one[0]["features"]) == 3


def test_multipoint_moveto_decode():
    # MVT 2.1 §4.3.4.2 multipoint example: MoveTo count=2 → every point is
    # its own path; the old decoder kept only the last (ADVICE r2).
    cmds = [(2 << 3) | 1,
            mvt._zigzag(5), mvt._zigzag(7),
            mvt._zigzag(3), mvt._zigzag(2)]
    paths = mvt.decode_geometry(cmds)
    assert paths == [[(5, 7)], [(8, 9)]]


def test_numpy_scalar_values_typed():
    # numpy scalars (the dtypes arriving through pandas batches) must encode
    # as typed Values, and dedupe against their python equivalents
    import numpy as np
    feats = [{"feature_id": 1, "kind": "point", "geom": [[1, 1]],
              "props": {"n": np.int64(7), "f": np.float64(2.5),
                        "b": np.bool_(True), "m": 7}}]
    layer = mvt.decode_tile(mvt.encode_tile(feats))["layers"][0]
    vals = [mvt.decode_value(v) for v in layer["values"]]
    tags = layer["features"][0]["tags"]
    got = {layer["keys"][tags[i]]: vals[tags[i + 1]] for i in range(0, len(tags), 2)}
    assert got == {"n": 7, "f": 2.5, "b": True, "m": 7}
    assert isinstance(got["b"], bool) and isinstance(got["n"], int)
    # np.int64(7) and 7 share ONE Value entry
    assert tags[tags.index(layer["keys"].index("n")) + 1] == \
        tags[tags.index(layer["keys"].index("m")) + 1]


def test_long_string_value_varint_length():
    # string Values >= 128 bytes need a multi-byte varint length on decode
    s = "x" * 300
    feats = [{"feature_id": 1, "kind": "point", "geom": [[1, 1]],
              "props": {"s": s}}]
    layer = mvt.decode_tile(mvt.encode_tile(feats))["layers"][0]
    assert mvt.decode_value(layer["values"][0]) == s


# --- property: encode_tile / decode_tile round trip -------------------------

_COORD = st.integers(-(1 << 16), 1 << 16)
_VERTEX = st.tuples(_COORD, _COORD)
_PROP_VALUE = st.one_of(
    # a small pool of look-alikes, so the shared Value table's dedupe meets
    # 1 / 1.0 / True and 0.0 / -0.0 within one layer
    st.sampled_from([0, 1, 0.0, -0.0, 1.0, True, False, "", "1"]),
    st.text(max_size=12), st.booleans(),
    st.integers(-(1 << 63), (1 << 63) - 1), st.floats())


@st.composite
def _feature(draw):
    kind = draw(st.sampled_from(["point", "line", "polygon"]))
    if kind == "point":
        pieces = draw(st.lists(st.lists(_VERTEX, min_size=1, max_size=1),
                               min_size=1, max_size=3))
    elif kind == "line":
        pieces = draw(st.lists(st.lists(_VERTEX, min_size=2, max_size=8),
                               min_size=1, max_size=3))
    else:
        # exterior ring plus holes; some rings repeat their first vertex,
        # which the encoder drops before ClosePath
        pieces = []
        for ring in draw(st.lists(st.lists(_VERTEX, min_size=3, max_size=8),
                                  min_size=1, max_size=4)):
            pieces.append(ring + ring[:1] if draw(st.booleans()) else ring)
    return {"feature_id": draw(st.integers(0, (1 << 64) - 1)), "kind": kind,
            "geom": [[c for v in p for c in v] for p in pieces],
            "props": draw(st.dictionaries(st.text(max_size=6), _PROP_VALUE,
                                          max_size=4))}


def _expected_paths(f):
    out = []
    for p in f["geom"]:
        pts = [(p[i], p[i + 1]) for i in range(0, len(p), 2)]
        if f["kind"] == "polygon" and len(pts) > 1 and pts[0] == pts[-1]:
            pts = pts[:-1]
        out.append(pts)
    return out


def _same_value(a, b):
    if isinstance(a, float) and isinstance(b, float):
        # bit-exact: 0.0 and -0.0 compare equal, NaN equals nothing
        return a.hex() == b.hex()
    return type(a) is type(b) and a == b


@settings(max_examples=300, deadline=None, derandomize=True, database=None)
@given(feats=st.lists(_feature(), max_size=6),
       name=st.text(min_size=1, max_size=8), split=st.booleans())
def test_encode_decode_roundtrip_property(feats, name, split):
    """Every feature's id, type, geometry and typed props come back from the
    wire bytes, in input order, in one layer or one layer per kind."""
    layers = mvt.decode_tile(mvt.encode_tile(feats, layer_name=name,
                                             split_layers=split))["layers"]
    if split:
        groups = [(f"{name}_{k}", [f for f in feats if f["kind"] == k])
                  for k in ("point", "line", "polygon")]
        groups = [g for g in groups if g[1]]
    else:
        groups = [(name, feats)]
    assert [layer["name"] for layer in layers] == [g[0] for g in groups]
    for layer, (_, want) in zip(layers, groups):
        assert layer["version"] == 2 and layer["extent"] == 4096
        assert len(layer["features"]) == len(want)
        vals = [mvt.decode_value(v) for v in layer["values"]]
        for got, f in zip(layer["features"], want):
            assert got["id"] == f["feature_id"]
            assert got["type"] == mvt.GEOM_TYPE[f["kind"]]
            assert mvt.decode_geometry(got["geometry"]) == _expected_paths(f)
            tags = got["tags"]
            props = {layer["keys"][tags[i]]: vals[tags[i + 1]]
                     for i in range(0, len(tags), 2)}
            assert props.keys() == f["props"].keys()
            for k, v in f["props"].items():
                assert _same_value(props[k], v), (k, props[k], v)
