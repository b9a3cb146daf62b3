"""Engine options with the reference's get/set/context-manager API
(/root/reference/xagg/options.py:21-118)."""

from __future__ import annotations

from contextlib import contextmanager

_OPTIONS = {
    "silent": False,
    # default aggregation impl (reference options.py:23: for_loop default;
    # dot_product = per-coordinate NaN-masked weights).  'numba' is
    # subsumed by the Spark hash aggregate (SURVEY §2.4) and accepted as an
    # alias of for_loop semantics.
    "impl": "for_loop",
    "rgrd_alg": "conservative",   # conservative | bilinear
    "nan_to_zero_regridding": True,
    "psnr_gate_db": 40.0,         # lossy decode acceptance (input_hint)
}

_VALIDATORS = {
    "silent": lambda v: isinstance(v, bool),
    "impl": lambda v: v in ("for_loop", "dot_product", "numba"),
    "rgrd_alg": lambda v: v in ("conservative", "bilinear"),
    "nan_to_zero_regridding": lambda v: isinstance(v, bool),
    "psnr_gate_db": lambda v: isinstance(v, (int, float)) and v > 0,
}


def get_options() -> dict:
    return dict(_OPTIONS)


def set_options(**kwargs) -> None:
    for k, v in kwargs.items():
        if k not in _OPTIONS:
            raise ValueError(f"unknown option {k!r}; valid: {sorted(_OPTIONS)}")
        if not _VALIDATORS[k](v):
            raise ValueError(f"invalid value {v!r} for option {k!r}")
        _OPTIONS[k] = v


@contextmanager
def option_context(**kwargs):
    saved = {k: _OPTIONS[k] for k in kwargs}
    try:
        set_options(**kwargs)
        yield
    finally:
        _OPTIONS.update(saved)
