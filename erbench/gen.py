"""Seeded input generator for the ER benchmark workloads.

Writes, for one workload and one seed, the two files the program is given:

- ``records.csv`` — ``make_rldata`` records (fname, lname, by, bm, bd,
  rec_id) with the ground-truth ``ent_id`` column, missing values as ``NA``;
- ``project.conf`` — the HOCON project config for that workload, in the
  shape of the reference's RLdata examples: ``fname``/``lname`` use
  ``LevenshteinSimilarityFn(7, 10)``, ``by``/``bm``/``bd`` use
  ``ConstantSimilarityFn``, every attribute has a Beta(0.5, 50) distortion
  prior, the sampler is PCG-I.

One seed names ten data sets; a run uses several, so that its sweep
throughput and quality average over more than one draw of the data. The
same seed and data set give byte-identical files. Usage::

    python3 erbench/gen.py --workload er_local_posterior --seed 1 --dataset 0 --out DIR
"""

from __future__ import annotations

import argparse
import os
import sys
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass(frozen=True)
class Workload:
    records: int
    #: KD-tree levels: 2**levels partitions
    levels: int
    burnin: int
    sample_size: int
    thinning: int
    #: None keeps the sampler's default routing (driver-local for small
    #: chains); 0 forces one Spark job per iteration
    local_exec_max_records: int | None
    #: output-check floors for the sMPC estimate of each data set: 0.8 of
    #: the lowest value measured, rounded down (the measured ranges are in
    #: erbench/README.md)
    f1_floor: float
    ari_floor: float


WORKLOADS: dict[str, Workload] = {
    # driver-local chain (state.transition_local): the model kernels, the
    # Arrow chain sink (one saved sample per iteration) and the posterior
    # scan carry the load; no Spark job runs per iteration
    "er_local_posterior": Workload(
        records=4000, levels=1, burnin=0, sample_size=80, thinning=1,
        local_exec_max_records=None, f1_floor=0.18, ari_floor=0.18,
    ),
    # distributed chain (state.transition): one grouped-Arrow Spark job and
    # shuffle per iteration over 4 KD-tree partitions
    "er_spark_dist": Workload(
        records=4000, levels=2, burnin=0, sample_size=2, thinning=5,
        local_exec_max_records=0, f1_floor=0.16, ari_floor=0.16,
    ),
}

ATTRIBUTES = [
    ("fname", "LevenshteinSimilarityFn"),
    ("lname", "LevenshteinSimilarityFn"),
    ("by", "ConstantSimilarityFn"),
    ("bm", "ConstantSimilarityFn"),
    ("bd", "ConstantSimilarityFn"),
]


def _attribute_conf(name: str, sim: str) -> str:
    params = (
        ", parameters : { threshold : 7.0, maxSimilarity : 10.0 }"
        if sim == "LevenshteinSimilarityFn"
        else ""
    )
    return (
        f'      {{ name : "{name}",\n'
        f'        similarityFunction : {{ name : "{sim}"{params} }},\n'
        f"        distortionPrior : {{ alpha : 0.5, beta : 50.0 }} }}"
    )


def project_conf(w: Workload, seed: int, data_path: str, output_path: str) -> str:
    sample_params = [
        f"sampleSize : {w.sample_size}",
        f"burninInterval : {w.burnin}",
        f"thinningInterval : {w.thinning}",
        "writeBufferSize : 10",
        'sampler : "PCG-I"',
    ]
    if w.local_exec_max_records is not None:
        sample_params.append(f"localExecMaxRecords : {w.local_exec_max_records}")
    attrs = ",\n".join(_attribute_conf(n, s) for n, s in ATTRIBUTES)
    return f"""dblink {{
  data {{
    path : "{data_path}"
    recordIdentifier : "rec_id"
    entityIdentifier : "ent_id"
    nullValue : "NA"
    matchingAttributes : [
{attrs}
    ]
  }}
  randomSeed : {seed}
  expectedMaxClusterSize : 10
  partitioner : {{ name : "KDTreePartitioner", parameters : {{ numLevels : {w.levels} }} }}
  outputPath : "{output_path}"
  steps : [
    {{ name : "sample", parameters : {{ {", ".join(sample_params)} }} }},
    {{ name : "summarize",
      parameters : {{ lowerIterationCutoff : {w.burnin},
                     quantities : ["cluster-size-distribution", "partition-sizes",
                                   "shared-most-probable-clusters"] }} }},
    {{ name : "evaluate",
      parameters : {{ lowerIterationCutoff : {w.burnin}, metrics : ["pairwise", "cluster"],
                     useExistingSMPC : true }} }}
  ]
}}
"""


def write_inputs(workload: str, seed: int, out_dir: str, dataset: int = 0) -> str:
    """Write ``records.csv`` and ``project.conf`` of data set ``dataset``
    (0-9) of ``seed`` under ``out_dir``; return the config path. The chain's
    output path is ``out_dir/output``."""
    if not 0 <= dataset <= 9:
        raise ValueError(f"dataset must be in 0..9, got {dataset}")
    seed = seed * 10 + dataset
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from dblink_spark.er.datagen import make_rldata

    w = WORKLOADS[workload]
    os.makedirs(out_dir, exist_ok=True)
    data_path = os.path.join(out_dir, "records.csv")
    records = make_rldata(w.records, dup_fraction=0.1, missing_fraction=0.02, seed=seed)
    records[["rec_id", "fname", "lname", "by", "bm", "bd", "ent_id"]].to_csv(
        data_path, index=False, na_rep="NA"
    )
    conf_path = os.path.join(out_dir, "project.conf")
    with open(conf_path, "w") as f:
        f.write(project_conf(w, seed, data_path, os.path.join(out_dir, "output")))
    return conf_path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dataset", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    print(write_inputs(args.workload, args.seed, os.path.abspath(args.out), args.dataset))
    return 0


if __name__ == "__main__":
    sys.exit(main())
