"""Execution-plan utilities: checkpoint/lineage ledger, plan contracts."""
