"""tools/reference_parity.py's identity adjudication on synthetic rows
(no reference files): when the two engines pick different nearest
features for a probe, the differing ids are paired per `deep` level,
never across levels by id order."""
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
import reference_parity as rp  # noqa: E402


def _square(x0, y0, s):
    return {"type": "Polygon", "coordinates": [[
        [x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]]]}


# ids sorted lexically interleave the levels: "12" (deep 1) < "3"
# (deep 0) < "41" (deep 1) < "5" (deep 0)
FEATS = [("3", 0, _square(10.0, 0.0, 1.0)), ("5", 0, _square(12.0, 0.0, 1.0)),
         ("12", 1, _square(10.0, 2.0, 1.0)), ("41", 1, _square(12.0, 2.0, 1.0))]


def _write(path):
    with open(path, "w", encoding="utf-8") as f:
        f.write('{"type": "FeatureCollection", "features": [\n')
        for fid, deep, geom in FEATS:
            f.write(json.dumps({"type": "Feature", "properties": {
                "id": fid, "deep": deep}, "geometry": geom}) + ",\n")
        f.write("]}\n")


def test_load_feats_reads_deep_with_geometry(tmp_path):
    path = str(tmp_path / "feats.json")
    _write(path)
    feats = rp._load_feats(path)
    assert {k: v[0] for k, v in feats.items()} == {
        "3": "0", "5": "0", "12": "1", "41": "1"}
    assert feats["41"][1]["type"] == "Polygon"


def test_pairs_stay_within_their_deep():
    feats = {fid: (str(deep), geom) for fid, deep, geom in FEATS}
    # reference chose 3 (deep 0) and 41 (deep 1); ours 5 and 12
    pairs = rp._pair_by_deep({"3", "41"}, {"5", "12"}, feats)
    assert sorted(pairs) == [("3", "5"), ("41", "12")]
    # a level only one engine answered pairs with nothing
    assert rp._pair_by_deep({"3", "12"}, {"5"}, feats) == [("3", "5")]
    assert rp._pair_by_deep({"3"}, {"3"}, feats) == []


def test_adjudicate_identity_rows(tmp_path):
    path = str(tmp_path / "feats.json")
    _write(path)
    leg = {"all_id_mismatches": [
        ("7", "3:100.00,41:200.00", "5:110.00,12:190.00")]}
    rp.adjudicate_identity(leg, [(7, 11.5, 1.5)], src=path)
    rows = leg["identity_adjudication"]
    assert [r[:3] for r in rows] == [["7", "3", "5"], ["7", "41", "12"]]
    for _, ref_id, my_id, d_ref, d_my in rows:
        assert d_ref > 0 and d_my > 0
    # the probe sits between the two squares of each level, equally far
    # (in longitude) from both
    assert abs(rows[0][3] - rows[0][4]) < 1.0
