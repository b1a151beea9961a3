"""Per-row dict evaluator: the semantics oracle for the featurize stage
and the flat line sinks of ``aloha_spark.plans.pipeline``.

``batch_eval`` evaluates every feature of a compiled plan into one
Python dict per (row, feature) — the reference's per-row
``FeatureExtractorFunction`` model (FeatureExtractorFunction.scala:
48-66).  Column features read their precomputed column; every other
feature runs its generic ``compile_batch_fn`` callable, never the flat
kernels production runs where a spec matches one.  ``featurize_rows`` / ``vw_lines`` / ``libsvm_lines`` run it over
a pipeline's collected precomputed frame and render the bags with the
golden-tested row builders in ``aloha_spark.sinks``; the production
sinks must equal them exactly.
"""

from __future__ import annotations

import pandas as pd

from aloha_spark.functions.formatting import decimal_format
from aloha_spark.functions.hashing import STRING_SEED
from aloha_spark.functions.scalars import UNK_BAG
from aloha_spark.plans.pipeline import (
    _PREFIX,
    _eval_dv,
    _lift_to_bag,
    _src,
)
from aloha_spark.sinks.libsvm import labeled_libsvm_line
from aloha_spark.sinks.vw import labeled_vw_line, unlabeled_vw_line


def batch_eval(plan, pdf: pd.DataFrame):
    """Evaluate all features of ``plan`` for one pandas batch.

    Returns (order, prefixed_bags, missing, erring): ``prefixed_bags[f][i]``
    is row i's dict for feature f with feature-name key prefixing
    (RegressionFeatures.scala:83) applied."""
    n = len(pdf)
    bags: dict[str, list] = {}
    missing = [[] for _ in range(n)]
    erring = [[] for _ in range(n)]

    for fp in plan.features:
        name = fp.name
        if fp.kind in ("column", "string_column"):
            colv = pdf[_PREFIX + name]
            vals = colv.to_numpy()
            isna = colv.isna().to_numpy()
            as_ind = fp.kind == "string_column"
            row_bags = []
            for i in range(n):
                if isna[i]:
                    missing[i].append(name)
                    row_bags.append(dict(UNK_BAG))
                elif as_ind:
                    row_bags.append({f"={vals[i]}": 1.0})
                else:
                    row_bags.append({"": float(vals[i])})
            bags[name] = row_bags
            continue

        var_items = []
        for v in fp.variables:
            src = _src(fp, v)
            if src not in pdf.columns:
                raise KeyError(f"feature '{name}' needs column '{src}'")
            var_items.append((v, pdf[src].tolist()))
        row_bags = []
        for i in range(n):
            kwargs = {}
            # a var that is NULL with no spec default marks the feature
            # missing even when the function still yields a default bag
            # (GenAggFunc.accessorOutputMissing, func/package.scala:61-92)
            var_missing = False
            for v, vals_ in var_items:
                val = vals_[i]
                if val is None or (isinstance(val, float) and val != val):
                    if v in fp.defaults:
                        val = fp.defaults[v]
                    else:
                        val = None
                        var_missing = True
                kwargs[v] = val
            try:
                bag = _lift_to_bag(fp.fn(**kwargs), name)
                errored = False
            except Exception:
                erring[i].append(name)
                bag = None
                errored = True
            if (bag is None and not errored) or (var_missing and not errored):
                missing[i].append(name)
            row_bags.append(dict(UNK_BAG) if bag is None else bag)
        bags[name] = row_bags

    order = [fp.name for fp in plan.features]
    prefixed = [
        [{name + k: v for k, v in b.items()} for b in bags[name]]
        for name in order
    ]
    return order, prefixed, missing, erring


def _precomputed(pipe, df) -> pd.DataFrame:
    """The frame the production stage evaluates, collected as one batch
    (``toPandas`` applies the same session-timezone rendering as the
    Arrow stages' ``_rb_to_pandas``)."""
    return pipe._with_precomputed(df).toPandas()


def _rows(bags, i: int) -> list:
    return [bags[fi][i] for fi in range(len(bags))]


def featurize_rows(pipe, df, key: str) -> dict:
    """``{key: (features, missing_features, erring_features)}``."""
    pdf = _precomputed(pipe, df)
    _order, bags, missing, erring = batch_eval(pipe.plan, pdf)
    return {k: (_rows(bags, i), missing[i], erring[i])
            for i, k in enumerate(pdf[key].tolist())}


def vw_lines(pipe, df, key: str, labeled=None) -> dict:
    """``{key: vw_line}`` with ``to_vw_lines`` semantics."""
    plan = pipe.plan
    if labeled is None:
        labeled = pipe.spec.label is not None
    pdf = _precomputed(pipe, df)
    _order, bags, missing, _erring = batch_eval(plan, pdf)
    labels = _eval_dv(plan, pdf, "label") if labeled else None
    imps = _eval_dv(plan, pdf, "importance") if labeled else None
    tags = _eval_dv(plan, pdf, "tag") if labeled else None
    thr = plan.num_missing_threshold
    out = {}
    for i, k in enumerate(pdf[key].tolist()):
        row = _rows(bags, i)
        if thr is not None and len(missing[i]) > thr:
            out[k] = None   # abort row (RegressionFeatures:99-110)
        elif labeled:
            lab = labels[i] if labels else None
            # an importance SPEC that yields None for a row passes None
            # through (labeled_vw_line then emits the unlabeled form);
            # only a missing spec defaults to 1
            imp = imps[i] if imps is not None else 1.0
            tag = tags[i] if tags is not None else (
                decimal_format(lab, 17) if lab is not None else None)
            out[k] = labeled_vw_line(row, lab, imp, tag,
                                     plan.default_ns, plan.namespaces)
        else:
            out[k] = unlabeled_vw_line(row, plan.default_ns,
                                       plan.namespaces)
    return out


def libsvm_lines(pipe, df, key: str, seed: int = STRING_SEED) -> dict:
    """``{key: libsvm_line}`` with ``to_libsvm_lines`` semantics."""
    plan = pipe.plan
    pdf = _precomputed(pipe, df)
    _order, bags, _missing, _erring = batch_eval(plan, pdf)
    labels = _eval_dv(plan, pdf, "label") \
        if pipe.spec.label is not None else None
    out = {}
    for i, k in enumerate(pdf[key].tolist()):
        lab = None if labels is None or labels[i] is None \
            else decimal_format(float(labels[i]), 17)
        out[k] = labeled_libsvm_line(_rows(bags, i), lab, plan.num_bits,
                                     seed)
    return out
