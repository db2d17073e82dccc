from .stream_ingest import StreamingObsIngest  # noqa: F401
