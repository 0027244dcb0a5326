from trollflow2_spark.sources.scene import (  # noqa: F401
    ACCEPTED_MESSAGE_TYPES,
    READER_REGISTRY,
    SceneCreationError,
    create_scene,
    extract_filenames,
    gen_dict_extract,
    register_reader,
)
