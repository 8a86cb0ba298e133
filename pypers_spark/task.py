"""Task: a persisted, resumable pipeline run (SURVEY.md §2.A A7-A12).

Parity with the reference ``repype.task.Task`` (reference: task.py:117):
YAML task specs with parent-spec inheritance, ``input_ids`` range
decoding, config assembly (parent config + ``base_config_path`` include
+ ``config`` section), SHA-1 digests and ``is_pending`` dirtiness,
marginal-field stripping, ``find_first_diverging_stage`` /
``find_pickup_task`` incremental resume, and a ``run`` loop over the
task's inputs.

Spark-native shift (vs reference task.py:437-535): results persist as
**parquet per persistent field** (``data/<input_id>/<field>.parquet``)
instead of one gzipped pickle. Parquet is columnar + splittable, so a
"pickup" resume re-opens parent results as lazy scans — predicate
pushdown and column pruning apply to checkpointed fields exactly as to
source tables, and a 100 TB field never transits the driver. Scalar
(non-DataFrame) fields go to a JSON sidecar.

``Task.store`` is where the lazy plans execute, one write job per
field. When one stored field is built on another of the same input
(``lang_stats = curated.groupBy("lang")...``), the upstream field is
persisted for the duration of that input's writes, so the shared
lineage runs once instead of once per field; fields that no other field
reads are never cached.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import pathlib
import re
import shutil
from typing import Any, Dict, FrozenSet, Iterator, List, Optional, Union

import yaml

from pypers_spark.benchmark import Benchmark
from pypers_spark.config import Config
from pypers_spark.pipeline import Pipeline, create_pipeline
from pypers_spark.stage import PipelineData, Stage

TaskData = Dict[Any, PipelineData]


def deep_merge(dst: dict, *srcs: dict) -> dict:
    """Nested dict merge into ``dst`` (later sources win); returns dst.

    Nested dicts are always copied into ``dst`` — inserting them by
    reference would let a later merge silently mutate the source
    (e.g. a child task spec corrupting its parent's spec).
    """
    for src in srcs:
        for key, value in src.items():
            if isinstance(value, dict):
                if not isinstance(dst.get(key), dict):
                    dst[key] = {}
                deep_merge(dst[key], value)
            else:
                dst[key] = value
    return dst


def decode_input_ids(spec: Union[Any, List[Any], str]) -> List[Any]:
    """Expand an input-id spec: list, scalar, or "1,3,5-8"-style string."""
    if isinstance(spec, str):
        ids: List[Any] = []
        for token in spec.replace(" ", "").split(","):
            if not token:
                continue
            m = re.match(r"^([0-9]+)?-([0-9]+)?$", token)
            if m is None and re.match(r"^[0-9]+$", token):
                ids.append(int(token))
            elif m is not None:
                if m.group(1) is not None and m.group(2) is not None:
                    first, last = int(m.group(1)), int(m.group(2))
                    if first < last:
                        ids.extend(range(first, last + 1))
                        continue
                raise ValueError(f'Cannot parse input token "{token}"')
            else:
                ids.append(token)
        return sorted(set(ids))
    if isinstance(spec, list):
        return sorted(set(spec))
    return [spec]


def load_from_module(name: str) -> Any:
    """Import ``pkg.module.attr``-style dotted names, longest module first."""
    parts = name.split(".")
    for i in range(1, len(parts)):
        module_name = ".".join(parts[:-i])
        try:
            obj = importlib.import_module(module_name)
            for attr in parts[-i:]:
                obj = getattr(obj, attr)
            return obj
        except ImportError:
            if i == len(parts) - 1:
                raise
    raise ImportError(name)


def _is_dataframe(value: Any) -> bool:
    from pyspark.sql import DataFrame

    try:
        from pyspark.sql.connect.dataframe import DataFrame as ConnectDataFrame
    except ImportError:  # pragma: no cover - classic-only build
        ConnectDataFrame = ()
    return isinstance(value, (DataFrame, ConnectDataFrame))


def _jseq(seq) -> Iterator[Any]:
    """Iterate a JVM Scala ``Seq`` over py4j."""
    return (seq.apply(i) for i in range(seq.size()))


def _cache_shared_lineage(frames: List[Any]) -> List[Any]:
    """Persist the frames that another of ``frames`` is built on.

    Each frame is written by its own Spark job, so a frame derived from
    another (``lang_stats = curated.groupBy(...)``) would re-run the
    shared upstream chain once per frame. All candidates are persisted,
    then the children of each frame's analyzed plan go through the
    cache manager's substitution (the frame's own top node would match
    its own cache). A frame whose ``InMemoryRelation`` turns up under
    another frame stays persisted; the rest are released at once.
    Frames their producer already cached are left alone, as are Spark
    Connect frames (no JVM cache manager to ask). Returns the frames
    left persisted; the caller unpersists them after its writes.
    """
    from pyspark.storagelevel import StorageLevel

    frames = [
        df for df in frames
        if hasattr(df, "_jdf") and df.storageLevel == StorageLevel.NONE
    ]
    if len(frames) < 2:
        return []
    cache_manager = frames[0].sparkSession._jsparkSession.sharedState().cacheManager()
    for df in frames:
        df.persist()
    keep = set()
    try:
        builders = [
            cache_manager.lookupCachedData(df._jdf).get().cachedRepresentation().cacheBuilder()
            for df in frames
        ]
        for reader, df in enumerate(frames):
            for child in _jseq(df._jdf.queryExecution().analyzed().children()):
                for leaf in _jseq(cache_manager.useCachedData(child).collectLeaves()):
                    if leaf.nodeName() == "InMemoryRelation":
                        keep.update(
                            k for k, builder in enumerate(builders)
                            if k != reader and builder.equals(leaf.cacheBuilder())
                        )
    finally:
        for k, df in enumerate(frames):
            if k not in keep:
                df.unpersist()
    return [frames[k] for k in sorted(keep)]


class Task:
    """A node of the task tree: spec + directory + parent."""

    def __init__(self, path, spec: dict, parent: Optional["Task"] = None):
        self.path = pathlib.Path(path)
        self.spec = spec
        self.parent = parent

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, type(self))
            and self.path == other.path
            and self.spec == other.spec
            and self.parent == other.parent
        )

    def __hash__(self) -> int:
        return hash((self.path, json.dumps(self.spec)))

    # -- spec assembly -------------------------------------------------------

    @property
    def full_spec(self) -> Dict[str, Any]:
        """Own spec merged over all parent specs."""
        return deep_merge({}, self.parent.full_spec, self.spec) if self.parent else self.spec

    @property
    def runnable(self) -> bool:
        return bool(self.full_spec.get("runnable"))

    @property
    def input_ids(self) -> List[Any]:
        return decode_input_ids(self.full_spec.get("input_ids", []))

    @property
    def root(self) -> "Task":
        return self.parent.root if self.parent else self

    @property
    def parents(self) -> Iterator["Task"]:
        task = self.parent
        while task is not None:
            yield task
            task = task.parent

    @property
    def marginal_stages(self) -> Iterator[str]:
        """Stage ids whose outputs are dropped at persistence time."""
        for stage_spec in self.full_spec.get("marginal_stages", []):
            assert isinstance(stage_spec, str), "stage identifier must be a string"
            if "." in stage_spec:
                yield load_from_module(stage_spec)().id
            else:
                yield stage_spec

    def resolve_path(self, path) -> Optional[pathlib.Path]:
        """Resolve relative to the task dir; expands {DIRNAME}/{ROOTDIR}."""
        if path is None:
            return None
        import os

        raw = (
            os.path.expanduser(str(path))
            .replace("{DIRNAME}", self.path.name)
            .replace("{ROOTDIR}", str(self.root.path.resolve()))
        )
        p = pathlib.Path(raw)
        if not p.is_absolute():
            p = self.path / p
        return p.resolve()

    def create_config(self) -> Config:
        """parent config ← base_config file ← own ``config`` section."""
        config = Config(self.spec.get("config", {})).copy()
        base_config_path = self.spec.get("base_config_path")
        if base_config_path:
            with self.resolve_path(base_config_path).open("r") as fh:
                config = Config(yaml.safe_load(fh)).merge(config)
        if self.parent:
            return self.parent.create_config().merge(config)
        return config

    def create_pipeline(self, *args, **kwargs) -> Pipeline:
        """Instantiate the pipeline named (or listed stage-wise) in the spec."""
        pipeline_spec = self.full_spec.get("pipeline")
        scopes = {
            key: self.resolve_path(value)
            for key, value in self.full_spec.get("scopes", {}).items()
        }
        assert pipeline_spec is not None and isinstance(pipeline_spec, (str, list))
        if isinstance(pipeline_spec, str):
            pipeline_class = load_from_module(pipeline_spec)
            return pipeline_class(*args, scopes=scopes, **kwargs)
        stages = [load_from_module(name)() for name in pipeline_spec]
        return create_pipeline(stages, *args, scopes=scopes, **kwargs)

    # -- digests / dirtiness -------------------------------------------------

    @property
    def data_dirpath(self) -> pathlib.Path:
        """Directory holding the persisted parquet fields."""
        return self.resolve_path("data")

    @property
    def digest_task_filepath(self) -> pathlib.Path:
        return self.resolve_path(".task.json")

    @property
    def digest_sha_filepath(self) -> pathlib.Path:
        return self.resolve_path(".sha.json")

    @property
    def times_filepath(self) -> pathlib.Path:
        return self.resolve_path("times.csv")

    @property
    def times(self) -> Benchmark:
        return Benchmark(self.times_filepath)

    @property
    def digest(self) -> Optional[Dict[str, Any]]:
        """The full spec (with config) this task was last completed with."""
        if not self.digest_task_filepath.is_file():
            return None
        return json.loads(self.digest_task_filepath.read_text())

    def get_full_spec_with_config(self, config: Config) -> Dict[str, Any]:
        return dict(self.full_spec, config=config.entries)

    def compute_sha(self, config: Optional[Config] = None) -> str:
        spec = self.full_spec if config is None else self.get_full_spec_with_config(config)
        return hashlib.sha1(json.dumps(spec).encode("utf8")).hexdigest()

    def is_pending(self, pipeline: Pipeline, config: Config) -> str:
        """'' when complete; else 'incomplete' | 'pipeline' | 'specification'."""
        if not self.runnable:
            return ""
        if not self.digest_sha_filepath.is_file():
            return "incomplete"
        hashes = json.loads(self.digest_sha_filepath.read_text())
        for stage in pipeline.stages:
            if stage.sha != hashes["stages"].get(stage.id):
                return "pipeline"
        if hashes["task"] != self.compute_sha(config):
            return "specification"
        return ""

    def reset(self) -> None:
        """Remove all persisted results and digests."""
        for fp in (self.digest_sha_filepath, self.digest_task_filepath, self.times_filepath):
            if fp.exists():
                fp.unlink()
        if self.data_dirpath.exists():
            shutil.rmtree(self.data_dirpath)

    # -- persistence ---------------------------------------------------------

    def get_marginal_fields(self, pipeline: Pipeline) -> FrozenSet[str]:
        """Outputs of marginal stages (never persisted)."""
        marginal = set(self.marginal_stages)
        return frozenset(
            field
            for stage in pipeline.stages
            if stage.id in marginal
            for field in stage.outputs
        )

    def strip_marginals(self, pipeline: Pipeline, data_chunk: PipelineData) -> PipelineData:
        marginal = self.get_marginal_fields(pipeline)
        return {key: value for key, value in data_chunk.items() if key not in marginal}

    def _input_dir(self, input_id) -> pathlib.Path:
        return self.data_dirpath / str(input_id)

    def store(
        self,
        pipeline: Pipeline,
        data: TaskData,
        config: Config,
        times: Benchmark,
    ) -> None:
        """Persist the task data object: parquet per DataFrame field.

        DataFrame fields execute here — this is the pipeline's one
        materialization point. Each field is one write job; a field
        that another field of the same chunk is built on is cached for
        the chunk's writes (see :func:`_cache_shared_lineage`), so each
        stored lineage executes once. Scalar fields land in a JSON
        sidecar.
        """
        assert self.runnable
        assert frozenset(data.keys()) == frozenset(self.input_ids)
        for input_id, chunk in data.items():
            chunk = self.strip_marginals(pipeline, chunk)
            input_dir = self._input_dir(input_id)
            input_dir.mkdir(parents=True, exist_ok=True)
            scalars = {}
            frames = {}
            for field, value in chunk.items():
                if _is_dataframe(value):
                    target = str(input_dir / f"{field}.parquet")
                    # A field re-loaded from this very path (pickup from
                    # self, no diverging stage) must not be rewritten:
                    # overwriting a parquet path from a lazy scan of
                    # itself deletes the input mid-read.
                    if getattr(value, "_pypers_loaded_from", None) != target:
                        frames[target] = value
                else:
                    scalars[field] = value
            cached = _cache_shared_lineage(list(frames.values()))
            try:
                for target, value in frames.items():
                    value.write.mode("overwrite").parquet(target)
            finally:
                for value in cached:
                    value.unpersist()
            try:
                scalars_json = json.dumps(scalars)
            except TypeError as exc:
                bad = sorted(
                    f for f, v in scalars.items()
                    if not isinstance(v, (str, int, float, bool, list, dict, type(None)))
                )
                raise TypeError(
                    f"task {self.path}: non-persistable field(s) {bad} — "
                    "table-registry or other engine-object fields must be "
                    "declared marginal (task.yml: marginal_stages: "
                    "[<stage-id>]) so they are stripped before store()"
                ) from exc
            (input_dir / "scalars.json").write_text(scalars_json)
            # Remove parquet fields from a previous completion that the
            # current pipeline no longer produces — load() asserts exact
            # field-set equality, so a stale file would permanently
            # break pickup/resume for this task.
            current = {f"{field}.parquet" for field in chunk}
            for stale in input_dir.glob("*.parquet"):
                if stale.name not in current:
                    shutil.rmtree(stale)
        self.digest_task_filepath.write_text(
            json.dumps(self.get_full_spec_with_config(config))
        )
        self.digest_sha_filepath.write_text(
            json.dumps(
                {
                    "stages": {stage.id: stage.sha for stage in pipeline.stages},
                    "task": self.compute_sha(config),
                }
            )
        )
        assert times.filepath == self.times_filepath, (
            f'Benchmark file path mismatch: "{times.filepath}" != "{self.times_filepath}"'
        )
        times.retain((stage.id for stage in pipeline.stages), self.input_ids)
        times.save()

    def load(self, pipeline: Optional[Pipeline] = None) -> TaskData:
        """Re-open persisted results as lazy parquet scans (plus scalars)."""
        from pypers_spark.session import current_session

        assert self.runnable
        assert self.data_dirpath.is_dir(), f"no stored data at {self.data_dirpath}"
        spark = current_session()
        data: TaskData = {}
        for input_id in self.input_ids:
            input_dir = self._input_dir(input_id)
            assert input_dir.is_dir(), "Loaded data is inconsistent with task specification."
            chunk: PipelineData = json.loads((input_dir / "scalars.json").read_text())
            for parquet in sorted(input_dir.glob("*.parquet")):
                df = spark.read.parquet(str(parquet))
                df._pypers_loaded_from = str(parquet)
                chunk[parquet.stem] = df
            data[input_id] = chunk
        if pipeline is not None:
            required = pipeline.persistent_fields - self.get_marginal_fields(pipeline)
            for input_id, chunk in data.items():
                missing = required - frozenset(chunk.keys())
                assert not missing, (
                    f"Loaded data is inconsistent with the pipeline (missing: {missing})."
                )
                # Fields a previous pipeline version produced but the
                # current one does not are dropped (store() also removes
                # their parquet) — asserting on extras would permanently
                # brick pickup after any stage removal.
                data[input_id] = {k: v for k, v in chunk.items() if k in required}
        return data

    # -- incremental resume --------------------------------------------------

    def find_first_diverging_stage(
        self, pipeline: Pipeline, config: Config
    ) -> Optional[Stage]:
        """First stage that is new or whose code/config changed (None = none)."""
        if not self.digest_sha_filepath.is_file():
            return pipeline.stages[0]
        digest_sha = json.loads(self.digest_sha_filepath.read_text())
        digest_stages = digest_sha["stages"]
        digest = self.digest
        for stage in pipeline.stages:
            if stage.id not in digest_stages:
                return stage
            if stage.sha != digest_stages[stage.id]:
                return stage
            # NB: read config.entries directly — Config.get would mutate.
            if digest["config"].get(stage.id, {}) != config.entries.get(stage.id, {}):
                return stage
        return None

    def find_pickup_task(
        self, pipeline: Pipeline, config: Config
    ) -> Dict[str, Union[Optional["Task"], Optional[Stage]]]:
        """Closest completed ancestor (or self) to resume from.

        Returns ``{"task": Task|None, "first_diverging_stage": Stage|None}``.
        """
        candidates = list(self.parents) + [self]
        diverging = {
            task: task.find_first_diverging_stage(pipeline, config) for task in candidates
        }
        if not diverging:
            return {"task": None, "first_diverging_stage": pipeline.stages[0]}
        for task, stage in diverging.items():
            if stage is None:
                return {"task": task, "first_diverging_stage": None}
        pickup = max(diverging, key=lambda task: pipeline.find(diverging[task].id))
        stage = diverging[pickup]
        return {
            "task": None if stage is pipeline.stages[0] else pickup,
            "first_diverging_stage": stage,
        }

    # -- execution -----------------------------------------------------------

    def run(
        self,
        config: Config,
        pipeline: Optional[Pipeline] = None,
        pickup: bool = True,
        strip_marginals: bool = True,
        status=None,
    ) -> TaskData:
        """Run the pipeline over every input id, with incremental resume.

        When a pickup task is found, parent results are re-opened as
        lazy parquet scans and processing starts at the first diverging
        stage; stages below the resume point stay unexecuted plans until
        :meth:`store` materializes the persistent fields.
        """
        from pypers_spark import status as status_mod

        assert self.runnable
        if pipeline is None:
            pipeline = self.create_pipeline()
            self.setup_callbacks(pipeline)

        pickup_info = {"task": None, "first_diverging_stage": None}
        if pickup:
            pickup_info = self.find_pickup_task(pipeline, config)
            if pickup_info["task"] is not None:
                data = pickup_info["task"].load(pipeline)
                times = self.times.set(pickup_info["task"].times)
                first_stage = pickup_info["first_diverging_stage"]
            else:
                pickup = False
        if not pickup:
            data = {}
            times = Benchmark(self.times_filepath)
            first_stage = None

        status_mod.update(
            status,
            info="start",
            task=str(self.path.resolve()),
            pickup=str(pickup_info["task"].path.resolve()) if pickup else None,
            first_stage=first_stage.id if first_stage else None,
        )

        if not pickup or first_stage is not None:
            for input_idx, input_id in enumerate(self.input_ids):
                input_status = status_mod.derive(status)
                status_mod.update(
                    input_status,
                    info="process",
                    task=str(self.path.resolve()),
                    input_id=input_id,
                    step=input_idx,
                    step_count=len(self.input_ids),
                )
                input_config = pipeline.configure(config.copy(), input_id)
                data_chunk = data.get(input_id, {})
                data_chunk, final_config, times_chunk = pipeline.process(
                    input_id=input_id,
                    data=data_chunk,
                    config=input_config,
                    first_stage=first_stage.id if first_stage else None,
                    status=input_status,
                )
                if strip_marginals:
                    data_chunk = self.strip_marginals(pipeline, data_chunk)
                for stage_id, dt in times_chunk.items():
                    times[stage_id, input_id] = dt
                if final_config and (fp := pipeline.resolve("config", input_id)):
                    fp.parent.mkdir(parents=True, exist_ok=True)
                    with fp.open("w") as fh:
                        yaml.dump(final_config.entries, fh)
                data[input_id] = data_chunk

        status_mod.update(status, info="storing", intermediate=True)
        self.store(pipeline, data, config, times)
        status_mod.update(status, info="completed", task=str(self.path.resolve()))
        return data

    def setup_callbacks(self, pipeline: Pipeline) -> None:
        """Wire ``on_<stage>_<event>`` task methods up as stage callbacks."""
        for stage in pipeline.stages:
            for event in ("start", "end", "skip", "after"):
                name = f'on_{stage.id.replace("-", "_")}_{event}'
                if hasattr(self, name):
                    stage.add_callback(event, getattr(self, name))

    def __repr__(self) -> str:
        return f'<Task "{self.path}" {self.create_config().sha.hexdigest()[:7]}>'
