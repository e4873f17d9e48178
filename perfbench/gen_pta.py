"""Seeded synthetic PTA (pulsar timing array) campaign for pta_pipeline.

Writes, under --out:
  tim/<PSR>.tim    PPTA-style TOA files: FORMAT 1 header, three backends,
                   -group/-be/-f/-B flags, MJDs at 19 significant figures
  par/<PSR>.par    matching timing-parameter files with DM and JUMPs
  chain/           chain_1.txt plus two timestamped pieces and pars.txt;
                   the last named parameter is the `nmodel` column and
                   every row ends in 4 sampler diagnostics
  psrs.tsv         psr, idx, ra, dec (radians) for the optimal statistic
  truth.json       the generator's ground truth the benchmark checks

The files are a pure function of (--seed, sizes).

    python3 gen_pta.py --seed 1 --out DIR [--psrs 12 --toas 600 --chain 40000]
"""
import argparse
import json
import math
import os
import sys
from decimal import Decimal

import numpy as np

BACKENDS = [  # (group, be, frontend band, centre MHz)
    ("PDFB_10CM", "PDFB", "10CM", 3100.0),
    ("PDFB_20CM", "PDFB", "20CM", 1369.0),
    ("CASPSR_40CM", "CASPSR", "40CM", 732.0),
]
N_DIAG = 4
OS_AMP = 2.5e-30
OS_SIG = 1e-30


def psr_names(rng, n):
    names = set()
    while len(names) < n:
        hh, mm = rng.integers(0, 24), rng.integers(0, 60)
        sign = "+" if rng.random() < 0.5 else "-"
        dd, am = rng.integers(0, 90), rng.integers(0, 60)
        names.add(f"J{hh:02d}{mm:02d}{sign}{dd:02d}{am:02d}")
    return sorted(names)


def mjd_strings(rng, n):
    """n distinct MJDs over ~10 years, 5 integer + 14 decimal digits."""
    days = np.sort(rng.choice(np.arange(53000, 56650), size=n, replace=False))
    fracs = rng.integers(0, 10**14, size=n)
    return [f"{d}.{f:014d}" for d, f in zip(days, fracs)]


def write_tim(path, psr, rng, n_toas):
    lines = ["FORMAT 1", "MODE 1"]
    counts = {}
    mjds = mjd_strings(rng, n_toas)
    for i, mjd in enumerate(mjds):
        group, be, band, centre = BACKENDS[i % len(BACKENDS)]
        counts[group] = counts.get(group, 0) + 1
        freq = centre + rng.uniform(-64.0, 64.0)
        err = rng.uniform(0.3, 3.0)
        lines.append(
            f" {psr}_{i:05d}.rf {freq:.6f} {mjd} {err:.3f} pks"
            f" -group {group} -be {be} -f {group} -B {band}"
            f" -snr {rng.uniform(10, 500):.1f}")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    secs = [float(Decimal(m)) * 86400.0 for m in mjds]
    return counts, max(secs) - min(secs)


def write_par(path, psr, rng):
    pepoch = int(rng.integers(54000, 56000))
    jumps = [("group", "PDFB_20CM"), ("group", "CASPSR_40CM")]
    rows = [
        ("PSRJ", psr), ("RAJ", "%02d:%02d:%07.4f" % (int(psr[1:3]), int(psr[3:5]),
                                                   rng.uniform(0, 60))),
        ("DECJ", "%s:%s:%07.4f" % (psr[5:8], psr[8:10], rng.uniform(0, 60))),
        ("F0", "%.15f 1 %.3e" % (rng.uniform(50, 700), rng.uniform(1e-13, 1e-11))),
        ("F1", "%.6e 1 %.3e" % (-rng.uniform(1e-16, 1e-14), 1e-20)),
        ("PEPOCH", str(pepoch)), ("POSEPOCH", str(pepoch)),
        ("DM", "%.6f 1 %.3e" % (rng.uniform(3, 300), 1e-4)),
        ("START", "53000.0"), ("FINISH", "56650.0"), ("CLK", "TT(BIPM2013)"),
        ("EPHEM", "DE436"), ("UNITS", "TDB"),
    ]
    lines = [f"{k:<12}{v}" for k, v in rows]
    lines += [f"JUMP -{f} {v} {rng.uniform(-1e-6, 1e-6):.9e} 1" for f, v in jumps]
    lines.append("# TNEF -group PDFB_20CM 1.0")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return {"pepoch": float(pepoch), "jumps": [list(j) for j in jumps], "dm": True}


def write_chain(out, rng, psrs, n_rows):
    pars = [f"{psrs[0]}_red_noise_log10_A", f"{psrs[0]}_red_noise_gamma",
            f"{psrs[-1]}_dm_gp_log10_A", f"{psrs[-1]}_dm_gp_gamma",
            "gw_log10_A", "nmodel"]
    centre = np.array([-14.0, 3.5, -13.5, 2.0, -14.7])
    models = (rng.random(n_rows) < 0.7).astype(np.int64)
    vals = centre + rng.normal(0.0, 0.3, (n_rows, len(centre)))
    nmodel = models + rng.uniform(-0.4, 0.4, n_rows)
    diag = np.column_stack([rng.normal(-1e3, 5, n_rows), rng.normal(-1e3, 5, n_rows),
                            np.full(n_rows, 0.3), np.ones(n_rows)])
    lines = [" ".join(f"{x:.10f}" for x in v) + f" {m:.6f} " +
             " ".join(f"{d:.6f}" for d in dg)
             for v, m, dg in zip(vals, nmodel, diag)]
    cut1, cut2 = int(n_rows * 0.6), int(n_rows * 0.8)
    pieces = [("chain_1.txt", lines[:cut1]),
              ("chain_20240101120000.txt", lines[cut1:cut2]),
              ("chain_20240102120000.txt", lines[cut2:])]
    os.makedirs(out, exist_ok=True)
    for name, body in pieces:
        with open(os.path.join(out, name), "w") as fh:
            fh.write("\n".join(body) + "\n")
    with open(os.path.join(out, "pars.txt"), "w") as fh:
        fh.write("\n".join(pars) + "\n")
    burn = math.floor(0.25 * n_rows)
    kept = models[burn:]
    counts = {str(k): int((kept == k).sum()) for k in (0, 1)}
    return {"pars": pars, "rows": n_rows, "burn": burn, "model_counts": counts}


def generate(seed, out, n_psrs, n_toas, n_chain):
    rng = np.random.default_rng([seed, 7])
    psrs = psr_names(rng, n_psrs)
    for sub in ("tim", "par"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
    toa_counts, tspan, pars = {}, {}, {}
    for psr in psrs:
        toa_counts[psr], tspan[psr] = write_tim(
            os.path.join(out, "tim", f"{psr}.tim"), psr, rng, n_toas)
        pars[psr] = write_par(os.path.join(out, "par", f"{psr}.par"), psr, rng)
    with open(os.path.join(out, "psrs.tsv"), "w") as fh:
        for i, psr in enumerate(psrs):
            ra = (int(psr[1:3]) + int(psr[3:5]) / 60.0) / 24.0 * 2 * math.pi
            dec = (1 if psr[5] == "+" else -1) * (int(psr[6:8]) + int(psr[8:10]) / 60.0)
            fh.write(f"{psr}\t{i}\t{ra!r}\t{math.radians(dec)!r}\n")
    truth = {
        "seed": seed, "psrs": psrs, "backends": [b[0] for b in BACKENDS],
        "toa_counts": toa_counts, "total_toas": n_psrs * n_toas,
        "tspan_sec": tspan, "par": pars,
        "chain": write_chain(os.path.join(out, "chain"), rng, psrs, n_chain),
        "n_pairs": n_psrs * (n_psrs - 1) // 2, "os_amp": OS_AMP, "os_sig": OS_SIG,
    }
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--psrs", type=int, default=12)
    ap.add_argument("--toas", type=int, default=600)
    ap.add_argument("--chain", type=int, default=40000)
    a = ap.parse_args(argv)
    generate(a.seed, a.out, a.psrs, a.toas, a.chain)


if __name__ == "__main__":
    main(sys.argv[1:])
