"""Engine options — the ~/.xq config equivalent.

Re-expression of internal/utils/config.go:10-72: a key=value file with
``#`` comments sets defaults for indent / tab / no-color / color /
no-pager; unknown keys and malformed lines are skipped; defaults are
indent=2, everything else off. In the engine these become the options
object broadcast into UDF closures (colors/pager are CLI-only concepts
and parse but do not affect extraction output).
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass
class ConfigOptions:
    indent: int = 2
    tab: bool = False
    no_color: bool = False
    color: bool = False
    html: bool = False
    node: bool = False
    no_pager: bool = False


def _parse_bool(value: str) -> bool:
    # Go strconv.ParseBool: 1/t/T/TRUE/true/True -> true; else false-ish
    return value in ("1", "t", "T", "TRUE", "true", "True")


def load_config(file_name: str) -> ConfigOptions:
    cfg = ConfigOptions()
    if not os.path.exists(file_name):
        return cfg
    with open(file_name, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            text = line.strip()
            if text.startswith("#") or not text:
                continue
            parts = text.split("=")
            if len(parts) != 2:
                continue
            option, value = parts[0].strip(), parts[1].strip()
            if option == "indent":
                try:
                    cfg.indent = int(value)
                except ValueError:
                    cfg.indent = 0  # Go Atoi error -> 0
            elif option == "tab":
                cfg.tab = _parse_bool(value)
            elif option == "no-color":
                cfg.no_color = _parse_bool(value)
            elif option == "color":
                cfg.color = _parse_bool(value)
            elif option == "no-pager":
                cfg.no_pager = _parse_bool(value)
    return cfg
