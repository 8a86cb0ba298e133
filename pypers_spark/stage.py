"""Pipeline stage (SURVEY.md §2.A A2).

Parity with the reference ``repype.stage.Stage`` (reference:
stage.py:113): declared ``inputs``/``outputs``/``consumes`` fields, an
``enabled`` hyperparameter gate, start/end/skip/after event callbacks,
run timing, and a bytecode-based ``signature``/``sha`` used for
incremental-rerun dirtiness detection.

Spark-native shift: the *pipeline data object* maps field names to
**Spark DataFrames** (lazy logical plans). ``process`` receives and
returns plans, so a chain of stages composes into ONE Catalyst plan —
filters and projections written in an early stage push down through
stages appended later, and nothing executes until a persistence
boundary. (The reference executes each stage eagerly on in-memory
Python objects, which would forfeit cross-stage optimization at scale.)
"""

from __future__ import annotations

import hashlib
import json
import re
import time
from typing import Any, Callable, Dict, List, Optional

from pypers_spark.config import Config

StageEvent = str  # 'start' | 'end' | 'skip' | 'after'
PipelineData = Dict[str, Any]


def _code_fingerprint(code) -> str:
    """Process-stable fingerprint of a code object.

    Bytecode plus constants; nested code objects (lambdas,
    comprehensions) recurse — their ``repr`` embeds a memory address and
    would differ between processes, breaking cross-run dirtiness checks.
    """
    parts = [code.co_code.hex()]
    for const in code.co_consts:
        if hasattr(const, "co_code"):
            parts.append(_code_fingerprint(const))
        else:
            parts.append(repr(const))
    return "|".join(parts)


def suggest_stage_id(class_name: str) -> str:
    """Derive a hyphenated stage id from a CamelCase class name.

    Tokenizes on uppercase/digit boundaries, merges runs of single
    same-kind characters, lowercases, strips underscores, and drops a
    trailing ``stage`` token. Mirrors the reference naming scheme
    (reference: stage.py:58) so specs remain portable.
    """
    assert class_name != "_" and re.match(r"^[a-zA-Z][a-zA-Z0-9_]*$", class_name), (
        f'invalid class name: "{class_name}"'
    )
    raw = re.findall(r"[a-zA-Z0-9][^A-Z0-9_]*", class_name)
    tokens: List[str] = []
    i = 0
    while i < len(raw):
        token = raw[i]
        i += 1
        if len(token) == 1:
            while i < len(raw) and len(raw[i]) == 1 and (
                token[-1].isnumeric() == raw[i].isnumeric()
                or token[-1].isalpha() == raw[i].isalpha()
            ):
                token += raw[i]
                i += 1
        tokens.append(token.lower().replace("_", ""))
    if len(tokens) >= 2 and tokens[-1] == "stage":
        tokens.pop()
    return "-".join(tokens)


class Stage:
    """One step of a pipeline: a transformation of the pipeline data object.

    Subclasses declare ``inputs``/``outputs``/``consumes`` (field names)
    and implement :meth:`process`, which receives the declared input
    fields as keyword arguments (each typically a DataFrame) and returns
    a dict with exactly the declared output fields.
    """

    inputs: tuple = ()
    outputs: tuple = ()
    consumes: tuple = ()
    enabled_by_default: bool = True
    id: str

    def __init__(self):
        cls = type(self)
        self.id = cls.id if "id" in cls.__dict__ else suggest_stage_id(cls.__name__)
        assert not self.id.endswith("+"), '"+" suffix is reserved for first_stage notation'
        self.inputs = frozenset(cls.inputs) | frozenset(cls.consumes)
        self.outputs = frozenset(cls.outputs)
        self.consumes = frozenset(cls.consumes)
        self.enabled_by_default = cls.enabled_by_default
        self.event_callbacks: Dict[StageEvent, List[Callable]] = {}

    # -- events --------------------------------------------------------------

    def add_callback(self, event: StageEvent, callback: Callable) -> None:
        """Register a callback; ``after`` expands to ``end`` + ``skip``."""
        if event == "after":
            self.add_callback("end", callback)
            self.add_callback("skip", callback)
        else:
            self.event_callbacks.setdefault(event, []).append(callback)

    def remove_callback(self, event: StageEvent, callback: Callable) -> None:
        if event == "after":
            self.remove_callback("end", callback)
            self.remove_callback("skip", callback)
        elif event in self.event_callbacks:
            self.event_callbacks[event].remove(callback)

    def callback(self, event: StageEvent, **kwargs) -> None:
        for cb in self.event_callbacks.get(event, []):
            cb(stage=self, event=event, **kwargs)

    # -- execution -----------------------------------------------------------

    def run(
        self,
        pipeline,
        input_id,
        data: PipelineData,
        config: Config,
        status=None,
        **kwargs,
    ) -> float:
        """Run :meth:`process` if enabled; return the wall time (0 if skipped).

        Note the returned duration measures *plan construction* for lazy
        DataFrame stages. They execute in ``Task.store``, one write job
        per stored field (an upstream field other stored fields are
        built on is cached so it runs once); that write time is not
        recorded per stage.
        """
        from pypers_spark import status as status_mod

        if not config.get("enabled", self.enabled_by_default):
            self.skip(pipeline, input_id, data, config, status, **kwargs)
            return 0.0

        status_mod.update(status, intermediate=True, info="start-stage", stage=self.id)
        self.callback(
            "start", pipeline=pipeline, input_id=input_id, data=data, config=config,
            status=status, **kwargs,
        )
        inputs = {key: data[key] for key in self.inputs}
        t0 = time.time()
        outputs = self.process(pipeline=pipeline, config=config, status=status, **inputs)
        dt = time.time() - t0
        assert set(outputs.keys()) == set(self.outputs), (
            f'stage "{self.id}" produced spurious or missing output'
        )
        data.update(outputs)
        for key in self.consumes:
            del data[key]
        self.callback(
            "end", pipeline=pipeline, input_id=input_id, data=data, config=config,
            status=status, **kwargs,
        )
        return dt

    def skip(self, pipeline, input_id, data, config, status=None, **kwargs) -> None:
        from pypers_spark import status as status_mod

        status_mod.update(status, intermediate=True, info="skip-stage", stage=self.id)
        self.callback(
            "skip", pipeline=pipeline, input_id=input_id, data=data, config=config,
            status=status, **kwargs,
        )

    def process(self, pipeline, config: Config, status=None, **inputs) -> PipelineData:
        """Transform the input fields into the declared output fields."""
        raise NotImplementedError

    def configure(self, pipeline, input_id, *args, **kwargs) -> dict:
        """Hyperparameter adaptation rules: ``{key: [factor, default_user_factor, (spec)]}``."""
        return {}

    # -- dirtiness digest ----------------------------------------------------

    @property
    def signature(self) -> dict:
        """JSON-serializable fingerprint of this stage's implementation.

        Attributes that serialize to JSON are included verbatim; methods
        are represented by their bytecode. Changing either changes the
        :attr:`sha`, which marks dependent tasks dirty.
        """
        sig: dict = {}
        skip = {"__doc__", "__weakref__", "__module__", "__dict__", "__slotnames__",
                "signature", "sha"}
        for name in dir(self):
            if name in skip:
                continue
            value = getattr(self, name)
            # Collections are kept only if JSON-serializable — and
            # canonicalized: dicts keep their ITEMS (sorted; listing a
            # dict would keep only keys and miss value changes), sets
            # are sorted (their iteration order is hash-seed-dependent
            # and would make the sha differ between processes).
            if not callable(value) and not isinstance(value, (str, int, float, bool, type(None))):
                try:
                    if isinstance(value, dict):
                        listed = sorted(value.items())
                    elif isinstance(value, (set, frozenset)):
                        listed = sorted(value)
                    else:
                        listed = list(value)
                    value = json.loads(json.dumps(listed))
                except TypeError:
                    continue
            if callable(value):
                code = getattr(value, "__code__", None)
                if code is None:
                    continue
                # Bytecode + constants: co_code alone misses changes to
                # literal values (the reference hashes co_code only and
                # documents the gap — reference stage.py:406).
                value = _code_fingerprint(code)
            sig[name] = value
        for name in ("inputs", "outputs", "consumes"):
            sig[name] = sorted(sig[name])
        return sig

    @property
    def sha(self) -> str:
        """SHA-1 of :attr:`signature`."""
        return hashlib.sha1(json.dumps(self.signature).encode("utf-8")).hexdigest()

    def __str__(self) -> str:
        return self.id

    def __repr__(self) -> str:
        return f"<{type(self).__name__}, id: {self.id}>"

    def __eq__(self, other: object) -> bool:
        return isinstance(other, type(self)) and self.signature == other.signature

    def __hash__(self) -> int:
        return hash(self.id)
