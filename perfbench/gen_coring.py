"""Seeded coring inputs for the splice_convert and measurement_export
workloads, in the CSV formats feldman reads.

A site has 3-4 holes of cores, each core 6 sections plus a core
catcher (CC). The sparse splice walks down the spliced holes in depth
order and mixes every splice type: TIE, APPEND (same hole and across
holes) and APPEND with a user gap. Some cores of the spliced holes are
left out of the splice, and the last hole is never spliced, so the
off-splice chain runs. A site may also get a manual-correlation tie
table for some off-splice cores.

Measurement tables sample every section of every core at a fixed
spacing; some rows name a hole that is not in the section summary, so
the export writes its "-unwritten" side file.

Usage: python3 gen_coring.py <out_dir> <seed> [sites]
"""
import os
import random
import sys

import numpy as np

SEC_HEADER = ("Site,Hole,Core,CoreType,Section,CuratedLength,TopDepth,BottomDepth,"
              "TopDepthScaled,BottomDepthScaled")
SPARSE_HEADER = ("Site,Hole,Core,Type,TopSection,TopOffset,BottomSection,BottomOffset,"
                 "SpliceType,Gap,Comment")
MC_HEADER = ("Site1,Hole1,Core1,Tool1,Section1,SectionDepth1,"
             "Site2,Hole2,Core2,Tool2,Section2,SectionDepth2")
DEPTH_COL = "Sediment Depth CSF-A (m)"
CORE_STEP = 9.6  # m between core tops in one hole
N_SECTIONS = 6
ELEMENTS = ("Mg Al Si P S Cl Ar K Ca Sc Ti V Cr Mn Fe Co Ni Cu Zn Ga Ge As Se Br Rb "
            "Sr Y Zr Nb Mo Rh Pd Ag Cd Sn Sb Te I Cs Ba La Ce Pr Nd Sm Eu Gd Hf Ta W "
            "Ir Hg Pb Bi Th U Rn Ra").split()


def site(rng, index, site_id, mancorr):
    """One coring site: dict of file name -> CSV text, and its sections
    by (hole, core, section). The site's shape (holes, cores, splice
    rows) follows from its index, so every seed builds the same mix of
    sizes; the seed draws the depths, lengths, offsets and splice types."""
    n_splice_holes = 2 + index % 2
    splice_holes = "ABC"[:n_splice_holes]
    off_hole = "CD"[n_splice_holes - 2]
    n_rows = 40 + (index * 7) % 21
    n_skip = 2 + index % 5
    n_off = 3 + index % 4
    per_hole = -(-(n_rows + n_skip) // n_splice_holes)

    cores = []  # (hole, core, top)
    for j, h in enumerate(splice_holes):
        start = j * CORE_STEP / n_splice_holes + rng.uniform(0.0, 0.5)
        cores += [(h, c + 1, start + c * CORE_STEP) for c in range(per_hole)]
    for c in range(n_off):
        cores.append((off_hole, c + 1, 4.0 + c * CORE_STEP + rng.uniform(0.0, 0.5)))

    sec_lines, sections = [SEC_HEADER], {}
    for h, c, top in cores:
        t = round(top, 2)
        for s in [str(i) for i in range(1, N_SECTIONS + 1)] + ["CC"]:
            cl = 0.2 if s == "CC" else round(rng.uniform(1.3, 1.5), 2)
            b = round(t + cl, 2)
            sections[(h, c, s)] = (t, b, cl)
            sec_lines.append(f"{site_id},{h},{c},H,{s},{cl},{t},{b},{t},{b}")
            t = b

    chain = sorted((c for c in cores if c[0] in splice_holes), key=lambda c: c[2])
    skip = set(rng.sample(range(1, len(chain) - 1), n_skip))
    chain = [c for i, c in enumerate(chain) if i not in skip][:n_rows]
    sp_lines = [SPARSE_HEADER]
    for i, (h, c, _) in enumerate(chain):
        ts, bs = rng.choice(("1", "2")), rng.choice(("5", "6"))
        to = rng.randint(0, int(sections[(h, c, ts)][2] * 100) - 10)
        bo = rng.randint(10, int(sections[(h, c, bs)][2] * 100))
        kind, gap = "", ""
        if i < len(chain) - 1:
            kind = rng.choices(("TIE", "APPEND", "APPEND+GAP"), (6, 3, 2))[0]
            if kind == "APPEND+GAP":
                kind, gap = "APPEND", f"{rng.uniform(0.05, 1.0):.2f}"
        sp_lines.append(f"{site_id},{h},{c},H,{ts},{to},{bs},{bo},{kind},{gap},")

    files = {"secsumm.csv": "\n".join(sec_lines) + "\n",
             "sparse.csv": "\n".join(sp_lines) + "\n"}
    on = {(h, c) for h, c, _ in chain}
    off = [(h, c) for h, c, _ in cores if (h, c) not in on]
    if mancorr:
        mc_lines = [MC_HEADER]
        for h, c in rng.sample(off, min(3, len(off))):
            h2, c2, _ = rng.choice(chain)
            mc_lines.append(f"{site_id},{h},{c},H,3,{rng.randint(0, 120)},"
                            f"{site_id},{h2},{c2},H,3,{rng.randint(0, 120)}")
        files["mancorr.csv"] = "\n".join(mc_lines) + "\n"
    return files, sections


def write_site(path, files):
    os.makedirs(path, exist_ok=True)
    for name, text in files.items():
        with open(os.path.join(path, name), "w") as f:
            f.write(text)


def splice_sites(out, seed, n_sites):
    """n_sites independent sites; about one in four gets a manual
    correlation table."""
    rng = random.Random(f"perfbench-splice-{seed}")
    for i in range(n_sites):
        files, _ = site(rng, i, str(1 + i % 9), mancorr=(i % 4 == 3))
        write_site(os.path.join(out, f"site_{i:03d}"), files)


def measurement(rng, sections, site_id, n_cols, spacing_cm, ghost_hole="Z"):
    """CSV text of one measurement table: identity columns, an offset,
    the depth column and n_cols - 7 data columns, one row every
    spacing_cm down each section. A ghost hole, absent from the
    section summary, feeds the side file of unwritten rows."""
    keys = sorted(sections) + [(ghost_hole, c, s) for c in (1, 2)
                               for s in map(str, range(1, N_SECTIONS + 1))]
    ids, depths, offs = [], [], []
    for k in keys:
        top, _, cl = sections[k] if k in sections else (100.0 * k[1] + 1.5 * int(k[2]), 0, 1.5)
        o = np.arange(0.0, cl * 100.0, spacing_cm)
        ids += [f"{site_id},{k[0]},{k[1]},H,{k[2]}"] * len(o)
        offs.append(o)
        depths.append(np.round(top + o / 100.0, 3))
    offs, depths = np.concatenate(offs), np.concatenate(depths)
    n = len(ids)
    nprng = np.random.default_rng(rng.randrange(2 ** 32))
    data = np.round(nprng.gamma(2.0, 500.0, (n, n_cols - 7)), 1)
    names = ELEMENTS[:n_cols - 7]
    assert len(names) == n_cols - 7
    header = "Site,Hole,Core,Type,Section,Offset (cm)," + DEPTH_COL + "," + ",".join(names)
    body = (f"{i},{o:g},{d:.3f}," + ",".join(map(str, row))
            for i, o, d, row in zip(ids, offs, depths, data.tolist()))
    return header + "\n" + "\n".join(body) + "\n", n


# (name, table, includeOffSplice, wholeSpliceSection): the CLI defaults on
# both tables, plus one whole-section, on-splice-only export; the timed
# phase makes EXPORT_PASSES passes over them
EXPORT_OPS = [("xrf_default", "xrf", True, False),
              ("narrow_default", "narrow", True, False),
              ("narrow_whole_onsplice", "narrow", False, True)]
EXPORT_PASSES = 2
TABLES = {"xrf": (65, 2.0), "narrow": (15, 0.5)}  # columns, spacing in cm


def export_inputs(out, seed, scale=1.0, with_site=True, passes=EXPORT_PASSES):
    """The two measurement tables, ops.tsv and, with_site, the site they
    sample. Every seed's site has the same holes and cores, so tables of
    one seed also export against another seed's site."""
    rng = random.Random(f"perfbench-export-{seed}")
    files, sections = site(rng, 1, "1", mancorr=False)
    if with_site:
        write_site(os.path.join(out, "site_000"), files)
    else:
        os.makedirs(out, exist_ok=True)
    rows = {}
    for t, (cols, spacing) in TABLES.items():
        text, rows[t] = measurement(rng, sections, "1", cols, spacing / scale)
        with open(os.path.join(out, f"{t}.csv"), "w") as f:
            f.write(text)
    with open(os.path.join(out, "ops.tsv"), "w") as f:
        for p in range(1, passes + 1):
            for name, t, off, whole in EXPORT_OPS:
                f.write(f"{name}_{p}\t{t}.csv\t{DEPTH_COL}\t{str(off).lower()}\t"
                        f"{str(whole).lower()}\t{rows[t]}\n")


if __name__ == "__main__":
    splice_sites(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 40)
