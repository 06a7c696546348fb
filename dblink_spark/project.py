"""Config-driven project pipeline (ref: Run.scala, Project.scala, ProjectStep.scala).

``python -m dblink_spark config.conf`` reproduces the reference's
``spark-submit dblink.jar config.conf`` surface: parse HOCON config →
build ``Project`` → execute the ordered step list
(``sample`` / ``summarize`` / ``evaluate`` / ``copy-files``,
ref: ProjectSteps.scala:53-84, ProjectStep.scala:28-179).

The "plan" is the same linear step list as the reference (no optimizer —
each step's internals are declarative DataFrame programs that Catalyst
plans). run.txt provenance mirrors Project.scala:58-96.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from dblink_spark.config import ConfigError, load_config
from dblink_spark.er.attributes import Attribute, BetaParams, ConstantSim, LevenshteinSim
from dblink_spark.er.cache import build_records_cache
from dblink_spark.er.chain import (
    cluster_size_distribution,
    most_probable_clusters,
    partition_sizes,
    save_cluster_size_distribution,
    save_partition_sizes,
    shared_most_probable_clusters,
)
from dblink_spark.er.analysis import membership_to_clusters
from dblink_spark.er.metrics import PairwiseMetrics, contingency_table
from dblink_spark.er.partition import KDTreePartitioner, PartitionFunction, SinglePartition
from dblink_spark.er.sampler import SamplerOptions, sample
from dblink_spark.er.state import assign_partitions, init_state
from dblink_spark.sources import (
    load_state,
    read_linkage_chain,
    read_records_csv,
    save_state,
    write_clusters_csv,
    read_clusters_csv,
    copy_files,
)

_SIM_FNS = {  # parser whitelist mirrors Project.scala:205-210
    "ConstantSimilarityFn": lambda p: ConstantSim(),
    "LevenshteinSimilarityFn": lambda p: LevenshteinSim(
        float(p.get("threshold", 7.0)), float(p.get("maxSimilarity", 10.0))
    ),
}


@dataclass
class Project:
    spark: SparkSession
    data_path: str
    record_id_col: str
    matching_attrs: list[Attribute]
    attr_names: list[str]
    file_id_col: str | None
    entity_id_col: str | None
    null_value: str | None
    random_seed: int
    expected_max_cluster_size: int
    population_size: int | None
    partitioner_cfg: dict
    output_path: str
    checkpoint_path: str | None
    steps: list[dict] = field(default_factory=list)
    _records: DataFrame | None = None

    # -- construction --------------------------------------------------------

    @classmethod
    def from_config_file(cls, spark: SparkSession, path: str) -> "Project":
        return cls.from_config(spark, load_config(path))

    @classmethod
    def from_config(cls, spark: SparkSession, cfg: dict) -> "Project":
        d = cfg.get("dblink", cfg)
        data = d.get("data")
        if not data:
            raise ConfigError("missing dblink.data section")
        attrs, names = [], []
        for a in data.get("matchingAttributes", []):
            sim_cfg = a["similarityFunction"]
            sim_name = sim_cfg["name"]
            if sim_name not in _SIM_FNS:
                raise ConfigError(f"unknown similarity function {sim_name!r}")
            sim = _SIM_FNS[sim_name](sim_cfg.get("parameters", {}))
            prior = a.get("distortionPrior", {})
            attrs.append(
                Attribute(
                    a["name"],
                    sim,
                    BetaParams(
                        float(prior.get("alpha", 1.0)), float(prior.get("beta", 1.0))
                    ),
                )
            )
            names.append(a["name"])
        if not attrs:
            raise ConfigError("matchingAttributes must be non-empty")
        return cls(
            spark=spark,
            data_path=data["path"],
            record_id_col=data["recordIdentifier"],
            matching_attrs=attrs,
            attr_names=names,
            file_id_col=data.get("fileIdentifier"),
            entity_id_col=data.get("entityIdentifier"),
            null_value=data.get("nullValue"),
            random_seed=int(d.get("randomSeed", 42)),
            expected_max_cluster_size=int(d.get("expectedMaxClusterSize", 10)),
            population_size=d.get("populationSize"),
            partitioner_cfg=d.get("partitioner", {"name": "KDTreePartitioner",
                                                  "parameters": {"numLevels": 0}}),
            output_path=d.get("outputPath", "./dblink-output/"),
            checkpoint_path=d.get("checkpointPath"),
            steps=list(d.get("steps", [])),
        )

    # -- data ----------------------------------------------------------------

    def records(self) -> DataFrame:
        if self._records is None:
            self._records = read_records_csv(
                self.spark,
                self.data_path,
                record_id_col=self.record_id_col,
                matching_cols=self.attr_names
                + ([self.entity_id_col] if self.entity_id_col else []),
                file_id_col=self.file_id_col,
                null_value=self.null_value,
            )
        return self._records

    def true_clusters(self) -> DataFrame:
        """Ground-truth clusters from the entity-id column
        (ref: Project.scala:156-166 + analysis/package.scala:52-63)."""
        if not self.entity_id_col:
            raise ConfigError("entityIdentifier not configured; cannot evaluate")
        membership = self.records().select(
            "rec_id", F.col(self.entity_id_col).alias("ent_id")
        )
        return membership_to_clusters(membership)

    def build_partitioner(self) -> PartitionFunction:
        name = self.partitioner_cfg.get("name", "KDTreePartitioner")
        params = self.partitioner_cfg.get("parameters", {})
        if name != "KDTreePartitioner":
            raise ConfigError(f"unknown partitioner {name!r}")
        levels = int(params.get("numLevels", 0))
        if levels <= 0:
            return SinglePartition()
        order = params.get("matchingAttributes") or self.attr_names
        attr_ids = [self.attr_names.index(n) for n in order]
        return KDTreePartitioner(num_levels=levels, attribute_ids=attr_ids)

    # -- run -----------------------------------------------------------------

    def run(self) -> dict[str, Any]:
        os.makedirs(self.output_path, exist_ok=True)
        self._write_provenance()
        if self.checkpoint_path:
            self.spark.sparkContext.setCheckpointDir(self.checkpoint_path)
        results: dict[str, Any] = {}
        for step in self.steps:
            name = step.get("name")
            params = step.get("parameters", {})
            t0 = time.time()
            if name == "sample":
                results["sample"] = self._step_sample(params)
            elif name == "summarize":
                results["summarize"] = self._step_summarize(params)
            elif name == "evaluate":
                results["evaluate"] = self._step_evaluate(params)
            elif name == "copy-files":
                results["copy-files"] = self._step_copy_files(params)
            else:
                raise ConfigError(f"unknown step {name!r}")
            results.setdefault("timings", {})[name] = time.time() - t0
        return results

    def _write_provenance(self) -> None:
        import pyspark

        with open(os.path.join(self.output_path, "run.txt"), "a") as f:
            f.write(
                f"run at {time.strftime('%Y-%m-%dT%H:%M:%S')} | "
                f"pyspark {pyspark.__version__} | data={self.data_path} | "
                f"attrs={self.attr_names} | seed={self.random_seed} | "
                f"steps={[s.get('name') for s in self.steps]}\n"
            )

    # -- steps ---------------------------------------------------------------

    def _state_dir(self) -> str:
        return os.path.join(self.output_path, "final-state")

    def _step_sample(self, params: dict) -> dict:
        """ref: ProjectStep.scala:46-58 (SampleStep)."""
        resume = bool(params.get("resume", False))
        if resume:
            state = load_state(self.spark, self._state_dir())
        else:
            records = self.records().select(
                "rec_id", "file_id", *self.attr_names
            )
            cache = build_records_cache(
                records, self.matching_attrs, self.expected_max_cluster_size
            )
            part = self.build_partitioner()
            state = init_state(
                self.spark,
                records,
                cache,
                SinglePartition(),
                1,
                seed=self.random_seed,
                population_size=self.population_size,
            )
            if part.num_partitions > 1:
                part.fit(state.df.filter("NOT is_summary").select("ent_values"))
                # re-key the initialized rows to the fitted partitioner so the
                # FIRST transition already runs as num_partitions kernel groups
                # (without this the whole state funnels through one task)
                state = assign_partitions(state, part, part.num_partitions)
        opts = SamplerOptions(
            sampler=str(params.get("sampler", "PCG-I")),
            burnin_interval=int(params.get("burninInterval", 0)),
            thinning_interval=int(params.get("thinningInterval", 1)),
            write_buffer_size=int(params.get("writeBufferSize", 10)),
            diagnostics_path=os.path.join(self.output_path, "diagnostics.csv"),
            # r14 opt-in knobs (absent from reference configs — defaults
            # preserve the reference cadence exactly): multisweepK > 1
            # fuses k kernel sweeps per Spark job on distributed
            # multi-partition chains (state.transition's n_sweeps);
            # localExecMaxRecords overrides the driver-local routing cap
            # (0 forces the distributed path)
            multisweep_k=int(params.get("multisweepK", 1)),
            multisweep_burnin_k=int(params.get("multisweepBurninK", 1)),
            local_exec_max_records=int(
                params.get(
                    "localExecMaxRecords",
                    SamplerOptions.local_exec_max_records,
                )
            ),
        )
        state = sample(
            state,
            sample_size=int(params.get("sampleSize", 100)),
            options=opts,
            output_path=self.output_path,
        )
        save_state(state, self._state_dir())
        return {"iteration": state.iteration, "num_partitions": state.num_partitions}

    def _smpc_path(self) -> str:
        return os.path.join(self.output_path, "shared-most-probable-clusters.csv")

    def _compute_smpc(self, cutoff: int) -> DataFrame:
        chain = read_linkage_chain(self.spark, self.output_path, cutoff=cutoff)
        return shared_most_probable_clusters(most_probable_clusters(chain))

    def _step_summarize(self, params: dict) -> dict:
        """ref: ProjectStep.scala:132-150 (SummarizeStep)."""
        cutoff = int(params.get("lowerIterationCutoff", 0))
        chain = read_linkage_chain(self.spark, self.output_path, cutoff=cutoff)
        written = []
        for q in params.get("quantities", []):
            if q == "cluster-size-distribution":
                p = os.path.join(self.output_path, "cluster-size-distribution.csv")
                save_cluster_size_distribution(cluster_size_distribution(chain), p)
            elif q == "partition-sizes":
                p = os.path.join(self.output_path, "partition-sizes.csv")
                save_partition_sizes(partition_sizes(chain), p)
            elif q == "shared-most-probable-clusters":
                p = self._smpc_path()
                write_clusters_csv(self._compute_smpc(cutoff), p)
            else:
                raise ConfigError(f"unknown summarize quantity {q!r}")
            written.append(p)
        return {"written": written}

    def _step_evaluate(self, params: dict) -> dict:
        """ref: ProjectStep.scala:74-118 (EvaluateStep)."""
        cutoff = int(params.get("lowerIterationCutoff", 0))
        use_existing = bool(params.get("useExistingSMPC", False))
        if use_existing and os.path.exists(self._smpc_path()):
            smpc = read_clusters_csv(self.spark, self._smpc_path())
        else:
            smpc = self._compute_smpc(cutoff)
        truth = self.true_clusters()
        out: dict[str, Any] = {}
        metrics = params.get("metrics", ["pairwise", "cluster"])
        if "pairwise" in metrics or "cluster" in metrics:
            # one contingency table serves both metrics
            table = contingency_table(smpc, truth)
        if "pairwise" in metrics:
            m = PairwiseMetrics(table.confusion())
            out["pairwise"] = {
                "precision": m.precision,
                "recall": m.recall,
                "f1": m.f1,
            }
        if "cluster" in metrics:
            out["cluster"] = {"adjusted_rand_index": table.adjusted_rand_index()}
        with open(os.path.join(self.output_path, "evaluation-results.txt"), "w") as f:
            for fam, vals in out.items():
                for k, v in vals.items():
                    f.write(f"{fam}.{k} = {v:.6f}\n")
        return out

    def _step_copy_files(self, params: dict) -> dict:
        """ref: ProjectStep.scala:157-179 (CopyFilesStep). ``overwrite``
        and ``deleteSource`` match the reference's documented params
        (docs/configuration.md:372-381, both default false)."""
        names = params.get(
            "fileNames",
            ["diagnostics.csv", "evaluation-results.txt", "run.txt"],
        )
        dest = params["destinationPath"]
        srcs = [os.path.join(self.output_path, n) for n in names]
        srcs = [s for s in srcs if os.path.exists(s)]
        copied = copy_files(
            self.spark, srcs, dest, overwrite=bool(params.get("overwrite", False))
        )
        if bool(params.get("deleteSource", False)):
            import shutil

            for s in srcs:
                shutil.rmtree(s) if os.path.isdir(s) else os.remove(s)
        return {"copied": copied}
