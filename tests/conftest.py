from __future__ import annotations

import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from factory_inspectors_db_etl_spark.session import get_spark

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def gen_roster():
    """The benchmark's seeded roster generator, ``perfbench/gen_roster.py``."""
    spec = importlib.util.spec_from_file_location("_gen_roster", os.path.join(REPO, "perfbench", "gen_roster.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve their module by name
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def generated_roster(gen_roster, tmp_path_factory) -> str:
    """A generated roster (seed 1, scale 1): ``fabric{YYYY}.html`` for the
    generator's 11 years, every layout generation and reader quirk it
    knows, in a directory of its own."""
    d = str(tmp_path_factory.mktemp("generated_roster"))
    gen_roster.generate(d, 1, 1)
    return d
