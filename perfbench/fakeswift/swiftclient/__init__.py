"""Disk-backed stand-in for python-swiftclient, owned by the benchmark.

Only `swiftclient.client` is provided; see that module for behaviour."""
