"""Fake ``qdrant_client.models``: only ``PointStruct``."""

from __future__ import annotations


class PointStruct:
    def __init__(self, id: str, vector: list[float], payload: dict) -> None:  # noqa: A002 — the API's name
        self.id = id
        self.vector = vector
        self.payload = payload
