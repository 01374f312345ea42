from __future__ import annotations

import json
import shutil
import sys
import uuid
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"


def drain(*queries) -> None:
    """Run each streaming query until it has processed all available
    input, stop it, and re-raise the error it stopped on. Unlike a
    timed ``awaitTermination``, a slow host cannot let the test read
    the sink before the query is done, and a failed query fails the
    test."""
    for q in queries:
        q.processAllAvailable()
        q.stop()
        if q.exception() is not None:
            raise q.exception()


@pytest.fixture(scope="session")
def spark():
    from event_to_lakehouse_spark.session import get_spark

    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s


@pytest.fixture()
def tmp_dir():
    d = REPO / ".tmp" / uuid.uuid4().hex[:12]
    d.mkdir(parents=True)
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


# --- reference-faithful bronze fixtures (FIXTURES.md §B) -------------------

RAPID7_RECORDS = [
    {
        "id": 101,
        "ip": "10.0.0.1",
        "hostName": "  Web-01  ",
        "addresses": [{"ip": "10.0.0.1"}, {"ip": "192.168.0.1"}],
        "assessedForPolicies": True,
        "assessedForVulnerabilities": True,
        "os": "Ubuntu Linux 22.04",
        "osCertainty": "0.85",
        "osFingerprint": {
            "architecture": "x86_64",
            "family": "Linux",
            "vendor": "Canonical",
            "product": "Ubuntu",
            "cpe": {"version": "22.04"},
        },
        "riskScore": 742.5,
        "rawRiskScore": 812.33,
        "vulnerabilities": {
            "total": 12,
            "critical": 1,
            "severe": 4,
            "moderate": 7,
            "exploits": 2,
            "malwareKits": 0,
        },
    },
    {
        "id": 102,
        "ip": "10.0.0.2",
        "hostName": "db-01",
        "addresses": [{"ip": "10.0.0.2"}],
        "assessedForPolicies": False,
        "assessedForVulnerabilities": True,
        "os": "Windows Server 2019",
        "osCertainty": "0.90",
        "osFingerprint": {
            "architecture": "x86_64",
            "family": "Windows",
            "vendor": "Microsoft",
            "product": "Windows Server",
            "cpe": {"version": "2019"},
        },
        "riskScore": 321.0,
        "rawRiskScore": 333.1,
        "vulnerabilities": {
            "total": 3,
            "critical": 0,
            "severe": 1,
            "moderate": 2,
            "exploits": 0,
            "malwareKits": 0,
        },
    },
]

FORTI_RECORDS = [
    {
        "_id": {"$oid": "64f1aa00c2d3e4f5a6b7c8d9"},
        "accessIp": "172.16.0.5",
        "name": "fw-edge-01",
        "naturalId": "FGT60F-0001",
        "approved": True,
        "unmanaged": False,
        "deviceType": {"vendor": "Fortinet", "model": "FortiGate 60F", "version": "7.2"},
    },
    {
        "_id": {"$oid": "64f1aa00c2d3e4f5a6b7c8da"},
        "accessIp": "172.16.0.6",
        "name": "sw-core-01",
        "naturalId": "SW-0002",
        "approved": False,
        "unmanaged": True,
        "deviceType": {"vendor": "Cisco", "model": "C9300", "version": "17.6"},
    },
]

CORRUPT_LINE = '{"id": 999, "ip": "10.9.9.9", BROKEN'


def write_bronze(dir_: str, records: list[dict], corrupt: bool = True) -> str:
    """Write one pretty-printed JSON object per file (the reference
    reads with multiLine=true) plus optionally one malformed file."""
    p = Path(dir_)
    p.mkdir(parents=True, exist_ok=True)
    for i, rec in enumerate(records):
        (p / f"rec_{i:04d}.json").write_text(json.dumps(rec, indent=2))
    if corrupt:
        (p / "rec_corrupt.json").write_text(CORRUPT_LINE)
    return str(p)


@pytest.fixture()
def rapid7_bronze(tmp_dir):
    return write_bronze(f"{tmp_dir}/bronze/rapid7.assets.raw", RAPID7_RECORDS)


@pytest.fixture()
def forti_bronze(tmp_dir):
    return write_bronze(f"{tmp_dir}/bronze/fortisiem.devices.raw", FORTI_RECORDS)
