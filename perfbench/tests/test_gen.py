"""The input generator: determinism, and sheets the native xlsx path reads."""

import filecmp
import os

import gen


def _tree(base):
    out = {}
    for root, _, names in os.walk(base):
        for n in names:
            path = os.path.join(root, n)
            out[os.path.relpath(path, base)] = path
    return out


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, gen.TINY)
    b = gen.generate(str(tmp_path / "b"), 7, gen.TINY)
    ta, tb = _tree(a["data_dir"]), _tree(b["data_dir"])
    assert sorted(ta) == sorted(tb) and len(ta) == 8
    for rel in ta:
        assert filecmp.cmp(ta[rel], tb[rel], shallow=False), rel
    assert a["expected"] == b["expected"]


def test_different_seeds_give_different_files(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, gen.TINY)
    b = gen.generate(str(tmp_path / "b"), 8, gen.TINY)
    ta, tb = _tree(a["data_dir"]), _tree(b["data_dir"])
    assert all(not filecmp.cmp(ta[rel], tb[rel], shallow=False) for rel in ta)


def test_planted_cases_present():
    rows = gen.make_rows(3, gen.TINY)
    ages = [r[2] for r in rows["mendeley"]]
    assert ages.count("abc") == 1
    keys = [tuple(r[1:5]) for r in rows["mendeley"]]
    assert len(set(keys)) < len(keys)  # exact duplicate profiles
    m_keys = {(r[2], r[1], r[3], r[4]) for r in rows["mendeley"]}
    assert any((g[0], g[1], g[3], g[2]) in m_keys for g in rows["gym"])
    assert any(not 10 < r[7] < 60 for r in rows["mendeley"])
    assert any(r[10] + r[11] == 0 for r in rows["daily"])


def test_sheets_parse_with_the_native_reader(tmp_path):
    from fitness_nutrition_data_pipeline_spark.sources.xlsx import read_xlsx_rows

    out = gen.generate(str(tmp_path), 5, gen.TINY)
    data = out["data_dir"]
    rows = read_xlsx_rows(os.path.join(data, "gym_recommendation.xlsx"))
    assert rows[0] == gen.MENDELEY_HEADER
    assert len(rows) == 1 + gen.TINY.mendeley_rows
    nutrition = read_xlsx_rows(os.path.join(data, "nutrition.xlsx"))
    assert len(nutrition[0]) == 77 and len(nutrition) == 1 + gen.TINY.nutrition_rows
