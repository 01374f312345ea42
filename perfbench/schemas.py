"""Bronze topic schemas for the generated asset JSON (the rapid7 asset
and fortisiem device layouts the silver mappings read)."""

from __future__ import annotations

from pyspark.sql import types as T

_S, _I, _B, _D = T.StringType(), T.IntegerType(), T.BooleanType(), T.DoubleType()


def _struct(*fields) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


RAPID7_SCHEMA = _struct(
    ("id", _I),
    ("ip", _S),
    ("hostName", _S),
    ("addresses", T.ArrayType(_struct(("ip", _S)))),
    ("assessedForPolicies", _B),
    ("assessedForVulnerabilities", _B),
    ("os", _S),
    ("osCertainty", _S),
    ("osFingerprint", _struct(
        ("architecture", _S), ("family", _S), ("vendor", _S), ("product", _S),
        ("cpe", _struct(("version", _S))),
    )),
    ("riskScore", _D),
    ("rawRiskScore", _D),
    ("vulnerabilities", _struct(
        ("total", _I), ("critical", _I), ("severe", _I), ("moderate", _I),
        ("exploits", _I), ("malwareKits", _I),
    )),
)

FORTI_SCHEMA = _struct(
    ("_id", _struct(("$oid", _S))),
    ("accessIp", _S),
    ("name", _S),
    ("naturalId", _S),
    ("approved", _B),
    ("unmanaged", _B),
    ("deviceType", _struct(("vendor", _S), ("model", _S), ("version", _S))),
)
