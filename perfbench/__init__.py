"""Streamhouse benchmark: live MV-cascade ingest, exactly-once curation
drains and a merge-on-read query mix, timed end to end and per module.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``."""
