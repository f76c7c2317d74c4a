"""Tests of the benchmark's own parts: generator determinism, equal corpus
sizes across seeds, and checks that flag corrupted outputs.

    python3 -m pytest perfbench/test_perfbench.py -q
"""
import csv
import hashlib
import os
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True

import checks  # noqa: E402
import gen_coring  # noqa: E402
import gen_corpus  # noqa: E402

SCALE = 0.02  # small corpus: the transforms, not the size, are under test


def digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(root, f), d).encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def corpus(tmp_path, name, seed):
    out = tmp_path / name
    gen_corpus.generate(str(tmp_path), str(out), seed, SCALE)
    return out


def test_coring_generators_are_deterministic(tmp_path):
    for tag in ("a", "b"):
        gen_coring.splice_sites(str(tmp_path / f"sites_{tag}"), 7, 3)
        gen_coring.export_inputs(str(tmp_path / f"export_{tag}"), 7, 0.1)
    assert digest(tmp_path / "sites_a") == digest(tmp_path / "sites_b")
    assert digest(tmp_path / "export_a") == digest(tmp_path / "export_b")
    gen_coring.splice_sites(str(tmp_path / "sites_c"), 8, 3)
    assert digest(tmp_path / "sites_a") != digest(tmp_path / "sites_c")


def test_corpus_is_deterministic_with_equal_sizes_across_seeds(tmp_path):
    a, b, c = corpus(tmp_path, "a", 5), corpus(tmp_path, "b", 5), corpus(tmp_path, "c", 6)
    assert digest(a) == digest(b)
    assert digest(a) != digest(c)
    for t in gen_corpus.TABLES:
        assert pq.ParquetFile(a / f"{t}.parquet").metadata.num_rows == \
            pq.ParquetFile(c / f"{t}.parquet").metadata.num_rows, t
    dup = "SELECT count(*) FROM (SELECT text FROM '{}' GROUP BY 1 HAVING count(*) > 1)"
    assert duckdb.sql(dup.format(a / "documents.parquet")).fetchone() == \
        duckdb.sql(dup.format(c / "documents.parquet")).fetchone()


def test_site_mixes_every_splice_type(tmp_path):
    gen_coring.splice_sites(str(tmp_path), 3, 8)
    kinds, gaps, mancorr = set(), 0, 0
    for s in sorted(os.listdir(tmp_path)):
        rows = list(csv.DictReader(open(tmp_path / s / "sparse.csv")))
        assert 40 <= len(rows) <= 60
        kinds |= {r["SpliceType"] for r in rows}
        gaps += sum(1 for r in rows if r["Gap"])
        mancorr += os.path.exists(tmp_path / s / "mancorr.csv")
    assert kinds == {"TIE", "APPEND", ""} and gaps > 0 and mancorr == 2


# ---- checks flag corrupted outputs ----------------------------------------

def write_csv(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def replayed_outputs(site, out):
    """SIT and affine files as a correct conversion writes them, built
    from the replay."""
    sec = list(csv.DictReader(open(os.path.join(site, "secsumm.csv"))))
    sparse = list(csv.DictReader(open(os.path.join(site, "sparse.csv"))))
    mc_path = os.path.join(site, "mancorr.csv")
    mc = list(csv.DictReader(open(mc_path))) if os.path.exists(mc_path) else []
    depths, offsets = checks.replay_offsets(sec, sparse, mc)
    write_csv(os.path.join(out, "sit.csv"),
              ["Site", "Hole", "Core", "Top Depth CSF-A", "Top Depth CCSF-A",
               "Bottom Depth CSF-A", "Bottom Depth CCSF-A"],
              [[r["Site"], r["Hole"], r["Core"]] + [f"{x:.3f}" for x in d]
               for r, d in zip(sparse, depths)])
    cores = dict.fromkeys((r["Site"], r["Hole"], r["Core"]) for r in sec)
    write_csv(os.path.join(out, "affine.csv"), ["Site", "Hole", "Core", "Cumulative offset (m)"],
              [[s, h, c, f"{offsets[(h, c)]:.3f}"] for s, h, c in cores])


def corrupt_offset(out, hole, core):
    aff = pd.read_csv(os.path.join(out, "affine.csv"), dtype=str)
    i = aff.index[(aff["Hole"] == hole) & (aff["Core"] == core)][0]
    aff.loc[i, "Cumulative offset (m)"] = "0.000"
    aff.to_csv(os.path.join(out, "affine.csv"), index=False)


def test_site_check_flags_corrupted_sit_and_affine(tmp_path):
    gen_coring.splice_sites(str(tmp_path / "in"), 11, 4)
    site, out = str(tmp_path / "in" / "site_000"), str(tmp_path / "out")
    replayed_outputs(site, out)
    assert checks.check_site(site, out) is None

    # off-splice offsets: the nearest-core default and a manual tie
    mc_site = str(tmp_path / "in" / "site_003")
    tie = next(csv.DictReader(open(os.path.join(mc_site, "mancorr.csv"))))
    for s, hole, core in ((site, "C", "2"), (mc_site, tie["Hole1"], tie["Core1"])):
        replayed_outputs(s, out)
        assert checks.check_site(s, out) is None
        sparse = list(csv.DictReader(open(os.path.join(s, "sparse.csv"))))
        assert (hole, core) not in {(r["Hole"], r["Core"]) for r in sparse}
        corrupt_offset(out, hole, core)
        assert f"affine offset of ('{hole}', '{core}')" in checks.check_site(s, out)

    replayed_outputs(site, out)

    sit = pd.read_csv(os.path.join(out, "sit.csv"), dtype=str)
    sit.loc[5, "Top Depth CCSF-A"] = f"{float(sit.loc[5, 'Top Depth CCSF-A']) + 0.01:.3f}"
    sit.to_csv(os.path.join(out, "sit.csv"), index=False)
    assert "SIT row 5" in checks.check_site(site, out)

    replayed_outputs(site, out)
    aff = pd.read_csv(os.path.join(out, "affine.csv"), dtype=str)
    aff.drop(index=len(aff) - 1).to_csv(os.path.join(out, "affine.csv"), index=False)
    assert "affine has" in checks.check_site(site, out)


def test_export_check_flags_corrupted_export(tmp_path):
    md, sit, aff, depth = tmp_path / "md.csv", tmp_path / "sit.csv", tmp_path / "aff.csv", "D (m)"
    write_csv(md, ["Site", "Hole", "Core", "Section", depth],
              [["1", "A", "1", "1", "0.5"], ["1", "A", "1", "2", "2.0"],
               ["1", "B", "1", "1", "0.7"], ["1", "Z", "1", "1", "0.1"]])
    write_csv(sit, ["Site", "Hole", "Core", "Top Section", "Bottom Section", "Top Depth CSF-A",
                    "Top Depth CCSF-A", "Bottom Depth CSF-A"],
              [["1", "A", "1", "1", "2", "0.2", "0.5", "2.5"]])
    write_csv(aff, ["Site", "Hole", "Core", "Cumulative offset (m)"],
              [["1", "A", "1", "0.3"], ["1", "B", "1", "0.1"]])
    out = tmp_path / "out.csv"
    header = ["Site", "Hole", "Core", "Section", depth, "Splice Depth", "Offset", "On-Splice"]
    good = [["1", "A", "1", "1", "0.5", "0.8", "0.3", "splice"],
            ["1", "A", "1", "2", "2.0", "2.3", "0.3", "splice"],
            ["1", "B", "1", "1", "0.7", "0.8", "0.1", "off-splice"]]
    write_csv(out, header, good)
    write_csv(tmp_path / "md-unwritten.csv", ["Site", "Hole", "Core", "Section", depth],
              [["1", "Z", "1", "1", "0.1"]])
    con = checks.connect(2, "2GB")
    exp = checks.export_expected(con, str(md), str(sit), str(aff), depth, True, False)
    assert checks.check_export(con, str(out), exp, str(md), True) is None
    bad = [r[:] for r in good]
    bad[1][5] = "2.4"
    write_csv(out, header, bad)
    assert "splice:" in checks.check_export(con, str(out), exp, str(md), True)
    write_csv(out, header, good[:2])
    assert "off-splice:" in checks.check_export(con, str(out), exp, str(md), True)


def test_query_check_flags_corrupted_output(tmp_path):
    sf = tmp_path / "sf"
    os.makedirs(sf)
    duckdb.sql(f"COPY (SELECT range AS k, range * 0.5 AS v FROM range(10)) "
               f"TO '{sf}/t.parquet' (FORMAT PARQUET)")
    oracle = tmp_path / "oracle_sql.json"
    oracle.write_text('{"q1": "SELECT k, v * 2 AS w FROM t"}')
    out = tmp_path / "out"
    os.makedirs(out / "q1")
    good = pd.DataFrame({"k": range(10), "w": [float(i) for i in range(10)]})
    good.to_parquet(out / "q1" / "part-0.parquet")
    assert checks.check_queries(str(sf), str(out), ["q1"], str(oracle)) == {"q1": None}
    bad = good.copy()
    bad.loc[3, "w"] = 3.5
    bad.to_parquet(out / "q1" / "part-0.parquet")
    assert "col w" in checks.check_queries(str(sf), str(out), ["q1"], str(oracle))["q1"]
    good.head(9).to_parquet(out / "q1" / "part-0.parquet")
    assert "rows" in checks.check_queries(str(sf), str(out), ["q1"], str(oracle))["q1"]


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q", "-p", "no:cacheprovider"]))
