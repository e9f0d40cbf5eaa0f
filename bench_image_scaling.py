#!/usr/bin/env python
"""Two-parallelism scaling bench for the IMAGE-VALIDATION round (the
graft's image axis): decode + PSNR/allclose + phash over an
input_hint-shaped store, at local[N] vs local[4N] on the same parquet.

The sandbox's available CPU varies over time (hypervisor steal), so the
protocol is one fresh spark-submit JVM per measurement, configs
interleaved (N, 4N, N, 4N, ...) against pre-generated input, best-of
per config.  The pipeline is embarrassingly parallel (scan ->
mapInPandas -> partial agg; no shuffle until the final 5-scalar agg),
so this evidences the payload pipeline's N->4N scaling.

Modes:
    --prepare  --data DIR --n-images M       generate the store once
    --measure  --data DIR --cores N --out F  warm-up + one measured round
    --orchestrate [--n-images M] [--trials K]
    --mode validate|decode_once              which image round to scale:
        validate (default) = decode+PSNR+phash over the raw/qraw store;
        decode_once = the composed curation round (one signature_pass
        decode -> near-dup + pixel-dedup + quality verdict) over a tdct
        store — the metric is the COMPOSED pass, with the naive/parts
        comparators recorded alongside at each parallelism level.

Writes BENCH/image_scaling[_MODE]_{lo}_{hi}.json in orchestrate mode.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))


def _session(cores: int, app: str):
    from grabspark.session import default_session

    # identical plan at both parallelism levels — only core count differs
    return default_session(app, cores, 64)


def prepare(data_dir: str, n_images: int, mode: str = "validate") -> None:
    spark = _session(32, "grabspark-img-scaling-prepare")
    from grabspark import bench_core

    os.makedirs(data_dir, exist_ok=True)
    # 64 files so local[16] has 4 waves and local[4] has 16 — identical
    # split layout at both parallelism levels.  decode_once mode uses
    # the tdct store (JPEG-shaped decode cost — the profile the
    # decode-once claim is about).
    fmts = ("tdct",) if mode == "decode_once" else ("raw", "qraw")
    bench_core.synth_images_parquet(
        spark, n_images, os.path.join(data_dir, "img_store"), n_files=64, fmts=fmts
    )
    with open(os.path.join(data_dir, "meta.json"), "w") as f:
        json.dump({"n_images": n_images, "mode": mode}, f)
    print("# prepared", data_dir, file=sys.stderr)


def measure(data_dir: str, cores: int, out: str, mode: str = "validate") -> None:
    spark = _session(cores, f"grabspark-img-scaling-{cores}")
    from grabspark import bench_core

    path = os.path.join(data_dir, "img_store")
    if mode == "decode_once":
        # composed curation round: the timed metric is the COMPOSED
        # pass (one decode -> near-dup + pixel-dedup + quality verdict);
        # naive/parts comparators ride along for reference
        bench_core.run_decode_once_round(spark, path)  # warm-up
        r = bench_core.run_decode_once_round(spark, path)
        payload = {
            "cores": cores,
            "n_images": r.n_images,
            "elapsed_sec": r.composed_sec,
            "images_per_sec": round(r.images_per_sec),
            "naive_verdict_sec": r.naive_verdict_sec,
            "sum_parts_sec": r.sum_parts_sec,
        }
        with open(out, "w") as f:
            json.dump(payload, f)
        print(
            f"# cores={cores}: composed {r.composed_sec:.2f}s = "
            f"{r.images_per_sec:,.0f} img/s",
            file=sys.stderr,
        )
        return
    bench_core.run_image_round(spark, path)  # warm-up (JIT + CPU ramp)
    r = bench_core.run_image_round(spark, path)
    assert r.n_pixels_ok == r.n_images and r.n_phash_ok == r.n_images, r
    payload = {
        "cores": cores,
        "n_images": r.n_images,
        "n_bytes": r.n_bytes,
        "elapsed_sec": round(r.elapsed_sec, 3),
        "images_per_sec": round(r.images_per_sec),
        "mb_per_sec": round(r.mb_per_sec, 1),
    }
    with open(out, "w") as f:
        json.dump(payload, f)
    print(f"# cores={cores}: {r.elapsed_sec:.2f}s = {r.images_per_sec:,.0f} img/s", file=sys.stderr)


def _submit(args: list[str], cores: int, zpath: str) -> None:
    from grabspark.session import driver_memory

    cmd = [
        "spark-submit",
        "--master", f"local[{cores}]",
        # must be on the submit command line — builder config is too late
        # for a spark-submit-launched driver JVM
        "--driver-memory", driver_memory(),
        "--py-files", zpath,
        os.path.join(REPO, "bench_image_scaling.py"),
    ] + args
    print("+", " ".join(cmd), file=sys.stderr)
    subprocess.run(cmd, check=True)


def orchestrate(n_images: int, trials: int, lo: int = 4, hi: int = 16, mode: str = "validate") -> None:
    from grabspark.session import package_zip

    zpath = package_zip()
    data_dir = tempfile.mkdtemp(prefix="grabspark-img-scaling-data-")
    _submit(["--prepare", "--data", data_dir, "--n-images", str(n_images), "--mode", mode], 32, zpath)
    runs: dict[int, list[dict]] = {lo: [], hi: []}
    outdir = tempfile.mkdtemp(prefix="grabspark-img-scaling-out-")
    for trial in range(trials):
        for cores in (lo, hi):  # interleaved: both see the same machine weather
            out = os.path.join(outdir, f"t{trial}-c{cores}.json")
            _submit(["--measure", "--data", data_dir, "--cores", str(cores), "--out", out, "--mode", mode], cores, zpath)
            with open(out) as f:
                runs[cores].append(json.load(f))
    bestlo = max(runs[lo], key=lambda r: r["images_per_sec"])
    besthi = max(runs[hi], key=lambda r: r["images_per_sec"])
    factor = hi / lo
    eff = (besthi["images_per_sec"] / bestlo["images_per_sec"]) / factor
    pair_eff = [
        round((runs[hi][i]["images_per_sec"] / runs[lo][i]["images_per_sec"]) / factor, 3)
        for i in range(trials)
    ]
    summary = {
        "n_images": n_images,
        "mode": mode,
        "cores": {"N": lo, "4N": hi},
        "localN_images_per_sec": bestlo["images_per_sec"],
        "local4N_images_per_sec": besthi["images_per_sec"],
        "scaling_efficiency": round(eff, 3),
        "pass_0.8": eff >= 0.8,
        "interleaved_pair_efficiency": pair_eff,
        "runs": {str(k): [r["images_per_sec"] for r in v] for k, v in runs.items()},
        "best": {"N": bestlo, "4N": besthi},
    }
    print(json.dumps(summary))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    tag = f"{mode}_" if mode != "validate" else ""
    with open(os.path.join(REPO, "BENCH", f"image_scaling_{tag}{lo}_{hi}.json"), "w") as f:
        json.dump(summary, f, indent=2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prepare", action="store_true")
    ap.add_argument("--measure", action="store_true")
    ap.add_argument("--orchestrate", action="store_true")
    ap.add_argument("--data")
    ap.add_argument("--cores", type=int)
    ap.add_argument("--out")
    ap.add_argument("--n-images", type=int, default=240_000)
    ap.add_argument("--trials", type=int, default=3)
    # (2,8): the criterion-grade fully-provisioned pair (see BENCH/BASELINE.md)
    ap.add_argument("--lo", type=int, default=2)
    ap.add_argument("--hi", type=int, default=8)
    ap.add_argument("--mode", default="validate", choices=["validate", "decode_once"])
    args = ap.parse_args()
    if args.prepare:
        prepare(args.data, args.n_images, args.mode)
    elif args.measure:
        measure(args.data, args.cores, args.out, args.mode)
    elif args.orchestrate:
        orchestrate(args.n_images, args.trials, args.lo, args.hi, args.mode)
    else:
        raise SystemExit("pick a mode: --prepare / --measure / --orchestrate")


if __name__ == "__main__":
    main()
