"""Seeded end-to-end benchmark of the validation engine (see README.md)."""
