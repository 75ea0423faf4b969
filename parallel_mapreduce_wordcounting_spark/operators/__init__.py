"""Operator modules (imported for registration by the package root).

Also home of the staged-wave discovery helpers: the staged_r* module list
used to be hand-duplicated across plan_audit, scale_up and the invariance
tests, so adding a wave required touching all of them and a missed entry
silently dropped those operators from audit coverage (ADVICE r7). Discover
dynamically instead — a new staged_rN.py file is picked up everywhere the
moment it exists, including by the package root, which registers each
wave's ``DEV_CASES``.
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import re


def staged_modules() -> list:
    """Every ``operators.staged_r*`` module, imported, sorted by wave number."""
    waves = []
    for m in pkgutil.iter_modules(__path__):
        match = re.fullmatch(r"staged_r(\d+)", m.name)
        if match:
            waves.append((int(match.group(1)), m.name))
    return [importlib.import_module(f".{name}", __name__) for _, name in sorted(waves)]


def operator_fns(mod) -> dict:
    """The operator-shaped public callables DEFINED in ``mod``: first
    parameter ``spark`` AND a ``-> DataFrame`` return annotation (the
    registry's QueryFn shape — every DEV_CASES fn carries it), skipping
    helpers like ``hilbert_d`` / ``lpa_labels`` / ``markov_transitions``
    the modules also export (the last matches the (spark, sf_dir)
    signature but returns a (tr, tot) TUPLE, which crashed the plan
    audit's explain on a non-DataFrame)."""
    suffix = mod.__name__.rsplit(".", 1)[-1]
    out = {}
    for name in dir(mod):
        fn = getattr(mod, name)
        if (
            callable(fn)
            and not name.startswith("_")
            and getattr(fn, "__module__", "").endswith(suffix)
        ):
            try:
                sig = inspect.signature(fn)
            except (TypeError, ValueError):
                continue
            if list(sig.parameters)[:1] == ["spark"]:
                if "DataFrame" in str(sig.return_annotation):
                    out[name] = fn
                elif sig.return_annotation is inspect.Signature.empty:
                    # An operator-shaped callable with NO return annotation
                    # would silently vanish from plan-audit/scale coverage
                    # (ADVICE r8): be loud so the omission is a warning in
                    # every audit run, not an invisible coverage hole.
                    import warnings

                    warnings.warn(
                        f"{mod.__name__}.{name} takes `spark` first but has "
                        "no return annotation — add `-> DataFrame` (counted "
                        "in audits) or a non-DataFrame annotation (helper, "
                        "excluded deliberately)",
                        stacklevel=2,
                    )
    return out
