"""The A/B specs under tools/ab_specs import package internals
(_hits_top50, _ppr_plan, _lph_plan, run_scoped, ...). Importing every
spec here makes a rename of one of those a tier-1 failure instead of a
broken experiment found later. Import only: no spec runs a Spark
action at import time."""

import glob
import os
import re

import pytest

from conftest import AB_SPECS, load_ab_spec

_NAMES = sorted(os.path.splitext(os.path.basename(p))[0]
                for p in glob.glob(os.path.join(AB_SPECS, "*.py")))


def test_measure_ab_catalogue_lists_every_spec():
    with open(os.path.join(os.path.dirname(AB_SPECS),
                           "measure_ab.py")) as fh:
        listed = set(re.findall(r"^    (\w+)\.py  ", fh.read(), re.M))
    assert listed == set(_NAMES)


@pytest.mark.parametrize("name", _NAMES)
def test_ab_spec_imports_with_distinct_variants(name):
    variants = load_ab_spec(name).VARIANTS
    if isinstance(variants, dict):
        variants = list(variants.items())
    names = [n for n, _ in variants]
    assert len(names) >= 2, names
    assert len(set(names)) == len(names), names
    assert all(callable(fn) for _, fn in variants)
