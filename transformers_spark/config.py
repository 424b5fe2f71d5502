"""Task configuration: env-var and ini-file sources.

Mirrors the reference's config surface (reference:
executor/bumblebee/config.py:34-127,321-435) — destination coordinates,
LOAD_METHOD, window size/offset/truncate, timezone, concurrency,
PARTITION_FILTER, ALLOW_FIELD_ADDITION — re-validated here with stdlib
only. The Spark engine consumes a single `TaskConfig` dataclass
regardless of source.
"""

from __future__ import annotations

import configparser
import os
import re
from dataclasses import dataclass, field
from enum import Enum
from zoneinfo import ZoneInfo

from .windowing import parse_duration

__all__ = ["LoadMethod", "TaskConfig", "task_config_from_env", "task_config_from_properties"]


class LoadMethod(Enum):
    """How query results land in the destination table.

    Behavior table: reference task/bq2bq/README.md:15-21.
    """

    APPEND = "APPEND"
    REPLACE = "REPLACE"
    REPLACE_MERGE = "REPLACE_MERGE"
    REPLACE_ALL = "REPLACE_ALL"
    MERGE = "MERGE"


def _validate_timezone(name: str) -> str:
    ZoneInfo(name)  # raises on unknown zone
    return name


# Destination-coordinate naming rules (reference:
# optimus-plugin-bq2bq.yaml:9-36, enforced through validate.go:15-30's
# regex validators): A-Z/a-z/0-9/hyphen/underscore only, >=3 chars;
# tables additionally cap at 1024 chars.
_NAME_RE = re.compile(r"^[a-zA-Z0-9_-]+$")


def _validate_name(kind: str, value: str, max_len: int | None = None) -> str:
    if len(value) < 3 or not _NAME_RE.fullmatch(value):
        raise ValueError(
            f"invalid {kind} name {value!r}: can only contain characters "
            "A-Z (in either case), 0-9, hyphen(-) or underscore (_), "
            "minimum 3 characters"
        )
    if max_len is not None and len(value) > max_len:
        raise ValueError(f"invalid {kind} name {value!r}: longer than {max_len} characters")
    return value


_QUERY_PRIORITIES = ("INTERACTIVE", "BATCH")


def _validate_priority(value: str) -> str:
    up = value.strip().upper()
    if up not in _QUERY_PRIORITIES:
        raise ValueError(
            f"QUERY_PRIORITY must be one of {_QUERY_PRIORITIES}, got {value!r}"
        )
    return up


def _validate_positive(val: int) -> int:
    if val > 0:
        return val
    raise ValueError("value should be an integer greater than 0")


def _bool_from_str(s: str) -> bool:
    low = s.strip().lower()
    if low == "true":
        return True
    if low == "false":
        return False
    raise ValueError(f"expected 'true' or 'false', got {s!r}")


@dataclass
class TaskConfig:
    destination_project: str
    destination_dataset: str
    destination_table_name: str
    load_method: LoadMethod
    timezone: str = "UTC"
    concurrency: int = 1
    query_priority: str = "INTERACTIVE"
    filter_expression: str | None = None
    allow_field_addition: bool = False
    use_spillover: bool = False
    window_size: str | None = None
    window_offset: str | None = None
    window_truncate_upto: str | None = None
    execution_project: str | None = None
    labels: dict[str, str] = field(default_factory=dict)

    @property
    def destination_table(self) -> str:
        return f"{self.destination_project}.{self.destination_dataset}.{self.destination_table_name}"

    def __post_init__(self) -> None:
        _validate_name("project", self.destination_project)
        _validate_name("dataset", self.destination_dataset)
        _validate_name("table", self.destination_table_name, max_len=1024)
        if self.execution_project:
            _validate_name("execution project", self.execution_project)
        self.query_priority = _validate_priority(self.query_priority)
        _validate_timezone(self.timezone)
        _validate_positive(self.concurrency)
        if self.window_size is not None and parse_duration(self.window_size).total_seconds() <= 0:
            # <= 0: a negative size ('-24h') would only explode later,
            # deep in the window calculus, far from the config source
            raise ValueError(f"invalid window size: {self.window_size!r}")


def _load_method(raw: str) -> "LoadMethod":
    """Case-tolerant LoadMethod lookup with a helpful error (a bare
    KeyError named neither the bad value nor the valid options)."""
    try:
        return LoadMethod[raw.strip().upper()]
    except KeyError:
        valid = ", ".join(m.name for m in LoadMethod)
        raise ValueError(
            f"invalid LOAD_METHOD {raw!r}; valid: {valid}"
        ) from None


def _env(name: str, default: str | None = None, required: bool = False) -> str | None:
    val = os.environ.get(name, default)
    if required and (val is None or val == ""):
        raise AssertionError(f"config '{name}' must be provided")
    return val


def parse_labels(text: str) -> dict[str, str]:
    """``k1=v1,k2=v2`` → dict (reference config.py:248-260)."""
    out: dict[str, str] = {}
    for pair in text.split(","):
        key, sep, value = pair.partition("=")
        key, value = key.strip(), value.strip()
        if not sep or not key or not value:
            raise ValueError(f"labels must be k=v pairs, got {text!r}")
        out[key] = value
    return out


def task_config_from_env() -> TaskConfig:
    return TaskConfig(
        destination_project=_env("PROJECT", required=True),
        destination_dataset=_env("DATASET", required=True),
        destination_table_name=_env("TABLE", required=True),
        load_method=_load_method(_env("LOAD_METHOD", required=True)),
        timezone=_env("TIMEZONE", "UTC"),
        concurrency=int(_env("CONCURRENCY", "1")),
        query_priority=_env("QUERY_PRIORITY", "INTERACTIVE"),
        filter_expression=_env("PARTITION_FILTER"),
        allow_field_addition=_bool_from_str(_env("ALLOW_FIELD_ADDITION", "false")),
        use_spillover=_bool_from_str(_env("USE_SPILLOVER", "false")),
        window_size=_env("WINDOW_SIZE"),
        window_offset=_env("WINDOW_OFFSET"),
        window_truncate_upto=_env("WINDOW_TRUNCATE_UPTO"),
        execution_project=_env("EXECUTION_PROJECT"),
        labels=parse_labels(_env("JOB_LABELS", "owner=transformers-spark")),
    )


def task_config_from_properties(raw_properties: str) -> TaskConfig:
    """Parse an ini-style properties.cfg (sections DESTINATION/TRANSFORMATION/LOAD)."""
    cp = configparser.ConfigParser(allow_no_value=True)
    cp.optionxform = str  # preserve key case
    cp.read_string(raw_properties)
    # [DEFAULT] keys are injected by configparser into every section's
    # view, and value-equality can't tell an injected key from a
    # section key explicitly set to the same value (round-4 advice: the
    # equal-value copy was skipped, letting a later section override it
    # silently instead of raising). Reparse with the default-section
    # name pointed at a sentinel so [DEFAULT] becomes an ordinary
    # section and every section's key set is exactly its EXPLICIT keys.
    raw_cp = configparser.ConfigParser(
        allow_no_value=True, default_section="\x00none"
    )
    raw_cp.optionxform = str
    raw_cp.read_string(raw_properties)
    explicit: dict[str, set[str]] = {
        section: set(raw_cp[section])
        for section in raw_cp.sections()
        if section != cp.default_section
    }
    props: dict[str, str] = {}
    # Keep configparser's own semantics — DEFAULT is a base that any
    # section may override — and only flag a key explicitly written in
    # two *non-default* sections (the genuinely ambiguous case when
    # sections are flattened).
    defaults = cp.defaults()
    for key, val in defaults.items():
        props[key] = val.strip('"') if val is not None else val
    seen_explicit: set[str] = set()
    for section in cp.sections():
        for key in cp[section]:
            val = cp[section][key]
            if key not in explicit.get(section, set()):
                continue  # injected DEFAULT value, not section-local
            if key in seen_explicit:
                # flattening sections means a duplicated key would
                # silently take whichever section parses last — make
                # the ambiguity an error instead
                raise ValueError(
                    f"property '{key}' appears in multiple sections"
                )
            seen_explicit.add(key)
            props[key] = val.strip('"') if val is not None else val

    def get(key: str, default: str | None = None) -> str | None:
        return props.get(key, default)

    def require(key: str) -> str:
        val = props.get(key)
        if not val:
            raise ValueError(f"property '{key}' must be provided")
        return val

    return TaskConfig(
        destination_project=require("PROJECT"),
        destination_dataset=require("DATASET"),
        destination_table_name=require("TABLE"),
        load_method=_load_method(require("LOAD_METHOD")),
        timezone=get("TIMEZONE", "UTC"),
        concurrency=int(get("CONCURRENCY", "1")),
        query_priority=get("QUERY_PRIORITY", "INTERACTIVE"),
        filter_expression=get("PARTITION_FILTER"),
        allow_field_addition=_bool_from_str(get("ALLOW_FIELD_ADDITION", "false")),
        use_spillover=_bool_from_str(get("USE_SPILLOVER", "false")),
        window_size=get("WINDOW_SIZE"),
        window_offset=get("WINDOW_OFFSET"),
        window_truncate_upto=get("WINDOW_TRUNCATE_UPTO"),
        execution_project=get("EXECUTION_PROJECT"),
        # parity with the env path: JOB_LABELS is honored from
        # properties too, with the same owner default (previously the
        # two entry points produced different labels for the same task)
        labels=parse_labels(get("JOB_LABELS", "owner=transformers-spark")),
    )
