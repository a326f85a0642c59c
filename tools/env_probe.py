"""Carried env-gate prober (VERDICT r8/r9 #8 're-probe each round',
mechanized): checks each optional runtime dependency the repo gates on
and prints ONE JSON line -- run it at the start of a round and paste the
line into NOTES_r{N}.  A gate flipping to available is the signal to
convert the corresponding skip/stub into live coverage:

- kinesis_jar:   real Kinesis connector reader (sources/kinesis.py)
- spark_avro:    from_avro/to_avro codec (sources gated on the MODULE,
                 not the core avro jars that ship with Spark)
- pil / ffmpeg:  real image/audio decode behind multimodal.set_decoder

Usage: python tools/env_probe.py
"""

from __future__ import annotations

import importlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def probe() -> dict:
    out: dict = {}
    import pyspark

    jars = os.listdir(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    out["kinesis_jar"] = any("kinesis" in j.lower() for j in jars)
    # the spark-avro MODULE (spark-avro_*.jar), not avro-core
    out["spark_avro_jar"] = any(j.lower().startswith("spark-avro") for j in jars)
    for mod, key in (("PIL", "pil"), ("ffmpeg", "ffmpeg")):
        try:
            importlib.import_module(mod)
            out[key] = True
        except ImportError:
            out[key] = False
    return out


def main() -> None:
    result = probe()
    result["all_open"] = [k for k, v in result.items() if v]
    print(json.dumps(result, sort_keys=True))


if __name__ == "__main__":
    main()
